"""Full Public Suffix List semantics (operators/urls.py): the snapshot
loader must honor wildcard (``*.``) and exception
(``!``) rules per the publicsuffix.org algorithm, and on the vendored
slice's own domain the full algorithm must agree with the zero-config
default exactly (so swapping in a real snapshot cannot regress the
oracle-checked behavior)."""

import pyspark.sql.functions as F
import pytest

from datapipelines_spark.operators.urls import (
    PUBLIC_SUFFIXES_2LD,
    PublicSuffixRules,
    parse_public_suffix_list,
    registrable_domain,
)

#: A snapshot exercising every rule kind, modeled on the publicsuffix.org
#: format (comments, markers, private section).
_SNAPSHOT = """\
// ===BEGIN ICANN DOMAINS===
com
// United Kingdom
co.uk
uk
jp
// wildcard + exception (the canonical ck / kobe.jp examples from the
// publicsuffix.org test data)
*.ck
!www.ck
*.kobe.jp
!city.kobe.jp
// a three-label exact rule
act.edu.au
edu.au
au
// ===END ICANN DOMAINS===
// ===BEGIN PRIVATE DOMAINS===
github.io
// ===END PRIVATE DOMAINS===
"""

#: (host, expected registrable domain) — the publicsuffix.org test-file
#: vectors for these rules, with "no registrable part" mapped to the
#: engine's pass-through convention instead of null.
_CASES = [
    # exact rules
    ("example.com", "example.com"),
    ("a.example.com", "example.com"),
    ("example.co.uk", "example.co.uk"),
    ("b.example.co.uk", "example.co.uk"),
    ("co.uk", "co.uk"),  # IS a public suffix -> pass-through
    # three-label exact rule
    ("foo.act.edu.au", "foo.act.edu.au"),
    ("www.foo.act.edu.au", "foo.act.edu.au"),
    ("act.edu.au", "act.edu.au"),  # pass-through
    ("example.edu.au", "example.edu.au"),
    # wildcard *.ck: any single label under ck is a public suffix
    ("test.ck", "test.ck"),  # IS a public suffix -> pass-through
    ("b.test.ck", "b.test.ck"),
    ("a.b.test.ck", "b.test.ck"),
    # exception !www.ck beats the wildcard
    ("www.ck", "www.ck"),
    ("www.www.ck", "www.ck"),
    ("foo.www.ck", "www.ck"),
    # wildcard + exception under an exact TLD rule (kobe.jp)
    ("kobe.jp", "kobe.jp"),  # matches rule "jp" -> last 2 labels
    ("c.kobe.jp", "c.kobe.jp"),  # *.kobe.jp -> IS a suffix, pass-through
    ("b.c.kobe.jp", "b.c.kobe.jp"),
    ("a.b.c.kobe.jp", "b.c.kobe.jp"),
    ("city.kobe.jp", "city.kobe.jp"),  # exception
    ("www.city.kobe.jp", "city.kobe.jp"),
    # private-section rule
    ("blog.github.io", "blog.github.io"),
    ("a.blog.github.io", "blog.github.io"),
    # implicit * rule: unlisted TLD
    ("example.xyz", "example.xyz"),
    ("a.example.xyz", "example.xyz"),
    # degenerate hosts
    ("localhost", "localhost"),
    ("", ""),
]


def test_parse_sections_and_markers():
    rules = parse_public_suffix_list(_SNAPSHOT)
    assert "co.uk" in rules.exact and "github.io" in rules.exact
    assert rules.wildcard == frozenset({"ck", "kobe.jp"})
    assert rules.exception == frozenset({"www.ck", "city.kobe.jp"})
    assert "*.ck" not in rules.exact and "!www.ck" not in rules.exact


def test_psl_algorithm_vectors(spark):
    rules = parse_public_suffix_list(_SNAPSHOT)
    df = spark.createDataFrame([(h,) for h, _ in _CASES], "host string")
    got = {
        r["host"]: r["dom"]
        for r in df.select(
            "host", registrable_domain(F.col("host"), rules=rules).alias("dom")
        ).collect()
    }
    for host, want in _CASES:
        assert got[host] == want, f"{host}: got {got[host]!r}, want {want!r}"


def test_full_algorithm_agrees_with_slice_on_its_domain(spark):
    """Feeding the vendored 2-label slice through the full algorithm must
    reproduce the zero-config default bit-for-bit — including on hosts
    the slice maps via its compound-suffix branch — so url_parse_documents
    stays green under a snapshot made of the same entries."""
    snapshot = "\n".join(PUBLIC_SUFFIXES_2LD)
    rules = parse_public_suffix_list(snapshot)
    hosts = [
        "example.com",
        "a.b.example.com",
        "shop.retail.co.uk",
        "retail.co.uk",
        "co.uk",
        "docs.site.com.au",
        "x.gob.mx",
        "a.x.gob.mx",
        "gob.mx",
        "single",
        "",
        "deep.a.b.c.d.e.org",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    rows = df.select(
        "host",
        registrable_domain(F.col("host")).alias("slice_dom"),
        registrable_domain(F.col("host"), rules=rules).alias("full_dom"),
    ).collect()
    for r in rows:
        assert r["slice_dom"] == r["full_dom"], r


def test_url_parse_documents_green_under_snapshot_rules(spark, sf_dir):
    """The driver query's Spark side rebuilt with suffix_file= semantics
    (a snapshot of the vendored slice) must equal the oracle-checked
    default output row-for-row."""
    from datapipelines_spark.operators.urls import parse_urls
    from datapipelines_spark.queries.urls import _planted_urls

    rules = parse_public_suffix_list("\n".join(PUBLIC_SUFFIXES_2LD))
    parsed = parse_urls(_planted_urls(spark, sf_dir), "url")
    a = parsed.select(
        "doc_id", registrable_domain(F.col("host")).alias("domain")
    )
    b = parsed.select(
        "doc_id", registrable_domain(F.col("host"), rules=rules).alias("domain")
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_suffix_file_loader(tmp_path, spark):
    p = tmp_path / "psl.dat"
    p.write_text(_SNAPSHOT, encoding="utf-8")
    df = spark.createDataFrame([("foo.www.ck",)], "host string")
    row = df.select(
        registrable_domain(F.col("host"), suffix_file=str(p)).alias("dom")
    ).collect()[0]
    assert row["dom"] == "www.ck"
    with pytest.raises(ValueError):
        registrable_domain(
            F.col("host"),
            rules=PublicSuffixRules(),
            suffix_file=str(p),
        )


def test_malformed_rules_rejected_at_parse_time():
    """Rules compile into generated Spark/DuckDB expressions, so the
    parser must reject anything outside the LDH charset — a quote in an
    external suffix file would otherwise break or inject the oracle
    SQL."""
    for bad in ("foo'bar.com", 'a"b.com', "under_score.com", "semi;colon"):
        with pytest.raises(ValueError):
            parse_public_suffix_list(bad)


def test_psl_sql_escapes_quotes_for_handbuilt_rules():
    """psl_domain_sql doubles embedded quotes (defense in depth for rules
    objects built directly, bypassing the parser's charset gate)."""
    from datapipelines_spark.operators.urls import psl_domain_sql

    rules = PublicSuffixRules(exact=frozenset({"o'k.example"}))
    sql = psl_domain_sql(rules)
    assert "'o''k.example'" in sql


def test_unicode_rules_normalize_to_punycode():
    """The real public_suffix_list.dat carries unicode rules; the parser
    IDNA-encodes them so rule/host equality holds in punycode space
    (hosts are normalized the same way by normalize_idn_host)."""
    rules = parse_public_suffix_list("食狮.com.cn\ncom.cn\ncn")
    assert "xn--85x722f.com.cn" in rules.exact
    assert all(r.isascii() for r in rules.exact)
