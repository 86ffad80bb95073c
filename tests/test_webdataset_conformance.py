"""WebDataset shard layout conformance: parse the
bytes ``write_tar_shards`` emits BY HAND from the POSIX ustar spec — no
tarfile, no sources/shards.py — so the assertion is that ANY conforming tar
reader (the reference's webdataset stack included) can consume our shards,
not merely that our own reader can."""

import glob
import os

import pytest

from datapipelines_spark.sinks.writer import write_tar_shards

BLOCK = 512


def _parse_ustar(data: bytes):
    """Minimal POSIX.1-1988 ustar walk: yields (name, payload) and verifies
    block alignment, magic, and header checksums along the way."""
    pos = 0
    members = []
    while pos + BLOCK <= len(data):
        hdr = data[pos:pos + BLOCK]
        if hdr == b"\x00" * BLOCK:  # end-of-archive marker
            break
        name = hdr[0:100].split(b"\x00")[0].decode()
        size = int(hdr[124:136].split(b"\x00")[0] or b"0", 8)
        typeflag = hdr[156:157]
        magic = hdr[257:263]
        assert magic in (b"ustar\x00", b"ustar "), f"bad magic {magic!r} at {pos}"
        # checksum: header bytes with the checksum field itself as spaces
        stored = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        computed = sum(hdr[:148]) + 8 * 32 + sum(hdr[156:])
        assert stored == computed, f"checksum mismatch at {pos}"
        payload = data[pos + BLOCK:pos + BLOCK + size]
        pos += BLOCK + ((size + BLOCK - 1) // BLOCK) * BLOCK
        if typeflag in (b"0", b"\x00"):  # regular file
            members.append((name, payload))
        # pax extended headers (typeflag x/g) carry no sample data: skipped
    return members


SAMPLES = [
    ("sample-000", {"jpg": b"\xff\xd8fakejpeg", "json": b'{"a": 1}'}),
    ("sample-001", {"jpg": b"\xff\xd8other", "json": b'{"a": 2}'}),
    ("sample-002", {"jpg": b"x" * 700, "json": b"{}", "txt": b"hello"}),
]


@pytest.fixture(scope="module")
def shard_bytes(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wds") / "shards")
    df = spark.createDataFrame(
        [(k, d) for k, d in SAMPLES], "__key__ string, data map<string, binary>"
    )
    summary = write_tar_shards(df, out, shard_rows=100)
    assert len(summary) == 1 and summary[0][1] == len(SAMPLES)
    (path,) = glob.glob(os.path.join(out, "*.tar"))
    with open(path, "rb") as f:
        return f.read()


def test_archive_is_block_aligned(shard_bytes):
    assert len(shard_bytes) % BLOCK == 0


def test_members_parse_with_spec_only_reader(shard_bytes):
    members = _parse_ustar(shard_bytes)
    got = {name: payload for name, payload in members}
    expect = {
        f"{key}.{ext}": payload for key, d in SAMPLES for ext, payload in d.items()
    }
    assert got == expect


def test_sample_members_are_contiguous_and_keys_sorted(shard_bytes):
    """The WebDataset contract: all members of one sample are adjacent
    (readers group by basename on a single pass) and samples appear in
    sorted key order within a shard."""
    names = [n for n, _ in _parse_ustar(shard_bytes)]
    keys = [n.rsplit(".", 1)[0] for n in names]
    # contiguity: once a key's run ends it never reappears
    seen, last = set(), None
    for k in keys:
        if k != last:
            assert k not in seen, f"key {k} split into non-adjacent runs"
            seen.add(k)
            last = k
    assert [k for i, k in enumerate(keys) if i == 0 or keys[i - 1] != k] == sorted(
        {k for k, _ in SAMPLES}
    )


def test_extensions_sorted_within_sample(shard_bytes):
    names = [n for n, _ in _parse_ustar(shard_bytes)]
    by_key: dict[str, list[str]] = {}
    for n in names:
        key, ext = n.rsplit(".", 1)
        by_key.setdefault(key, []).append(ext)
    for key, exts in by_key.items():
        assert exts == sorted(exts), f"{key}: {exts}"
