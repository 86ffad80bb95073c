"""URL handling for web-corpus pipelines: parse, registrable domain,
blocklist gating, and per-domain quota sampling.

Web-scale training corpora are keyed by URL long before they are keyed by
content: dedup works per page, quality and licensing work per DOMAIN, and
corpus balance caps any single domain's share. The reference has no URL
surface (its sources are tar shards); this extends the LLM-pipeline
mandate (SURVEY §2.10) with the standard four:

  parse      scheme/host/path/query via anchored regexes — all JVM-side
             codegen (``regexp_extract``), map-only at any scale;
  domain     registrable domain against a VENDORED public-suffix slice
             (last two labels, or last three when the trailing two form a
             listed compound suffix like ``co.uk`` / ``com.au``) — a
             deterministic rule that is exactly SQL-replayable; the
             operator takes the suffix set as a parameter so deployments
             can pin their own PSL snapshot without code changes;
  blocklist  registrable-domain membership against a broadcast dim —
             an O(|corpus|) map pass, never a shuffle;
  quota      deterministic per-domain cap: rank by the portable data
             hash (functions/hashing.py) inside each domain partition and
             keep the first N — retry-stable, partitioning-invariant, and
             the shuffle is keyed on domain (the only key the operator
             needs to co-locate).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from datapipelines_spark.functions.hashing import portable_hash_seeded

#: Vendored slice of the Public Suffix List (publicsuffix.org, MPL-2.0;
#: ICANN section, two-label entries only): compound suffixes under which
#: the registrable domain keeps THREE labels (shop.retail.co.uk ->
#: retail.co.uk; docs.site.com.au -> site.com.au). A listed slice, not a
#: second-level-LABEL heuristic ("co" under ANY TLD), which would
#: over-match invented pairs and under-match real ones like ``gob.mx`` /
#: ``or.jp``. Three-label public suffixes (e.g.
#: Japanese prefectures) are outside the slice — pass a full snapshot via
#: the ``suffixes`` parameter where a deployment needs them.
PUBLIC_SUFFIXES_2LD: tuple[str, ...] = (
    # United Kingdom
    "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk", "nhs.uk",
    "org.uk", "plc.uk", "police.uk", "sch.uk",
    # Australia / New Zealand
    "asn.au", "com.au", "edu.au", "gov.au", "id.au", "net.au", "org.au",
    "ac.nz", "co.nz", "geek.nz", "gen.nz", "govt.nz", "kiwi.nz",
    "maori.nz", "net.nz", "org.nz", "school.nz",
    # Japan / Korea / China / Taiwan / Hong Kong
    "ac.jp", "ad.jp", "co.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    "ne.jp", "or.jp",
    "ac.kr", "co.kr", "es.kr", "go.kr", "hs.kr", "kg.kr", "mil.kr",
    "ms.kr", "ne.kr", "or.kr", "pe.kr", "re.kr", "sc.kr",
    "ac.cn", "com.cn", "edu.cn", "gov.cn", "mil.cn", "net.cn", "org.cn",
    "club.tw", "com.tw", "ebiz.tw", "edu.tw", "game.tw", "gov.tw",
    "idv.tw", "net.tw", "org.tw",
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    # South / Southeast Asia
    "ac.in", "co.in", "edu.in", "firm.in", "gen.in", "gov.in", "ind.in",
    "mil.in", "net.in", "nic.in", "org.in", "res.in",
    "com.sg", "edu.sg", "gov.sg", "net.sg", "org.sg", "per.sg",
    "com.my", "edu.my", "gov.my", "mil.my", "name.my", "net.my", "org.my",
    "ac.id", "biz.id", "co.id", "desa.id", "go.id", "mil.id", "my.id",
    "net.id", "or.id", "sch.id", "web.id",
    "ac.th", "co.th", "go.th", "in.th", "mi.th", "net.th", "or.th",
    "ac.vn", "biz.vn", "com.vn", "edu.vn", "gov.vn", "health.vn",
    "info.vn", "int.vn", "name.vn", "net.vn", "org.vn", "pro.vn",
    "com.ph", "edu.ph", "gov.ph", "i.ph", "mil.ph", "net.ph", "ngo.ph",
    "org.ph",
    "biz.pk", "com.pk", "edu.pk", "fam.pk", "gov.pk", "net.pk", "org.pk",
    "web.pk",
    "ac.bd", "com.bd", "edu.bd", "gov.bd", "mil.bd", "net.bd", "org.bd",
    "ac.lk", "assn.lk", "com.lk", "edu.lk", "gov.lk", "grp.lk", "int.lk",
    "ltd.lk", "net.lk", "ngo.lk", "org.lk", "sch.lk", "soc.lk", "web.lk",
    "com.np", "edu.np", "gov.np", "mil.np", "net.np", "org.np",
    "com.kh", "edu.kh", "gov.kh", "mil.kh", "net.kh", "org.kh", "per.kh",
    "com.mm", "edu.mm", "gov.mm", "net.mm", "org.mm",
    # Middle East / Central Asia
    "ac.il", "co.il", "gov.il", "idf.il", "k12.il", "muni.il", "net.il",
    "org.il",
    "com.sa", "edu.sa", "gov.sa", "med.sa", "net.sa", "org.sa", "pub.sa",
    "sch.sa",
    "ac.ae", "co.ae", "gov.ae", "mil.ae", "net.ae", "org.ae", "sch.ae",
    "com.kw", "edu.kw", "gov.kw", "net.kw", "org.kw",
    "com.qa", "edu.qa", "gov.qa", "mil.qa", "net.qa", "org.qa", "sch.qa",
    "com.bh", "edu.bh", "gov.bh", "net.bh", "org.bh",
    "com.om", "edu.om", "gov.om", "net.om", "org.om",
    "com.jo", "edu.jo", "gov.jo", "mil.jo", "net.jo", "org.jo", "sch.jo",
    "com.lb", "edu.lb", "gov.lb", "net.lb", "org.lb",
    "com.eg", "edu.eg", "gov.eg", "mil.eg", "net.eg", "org.eg", "sci.eg",
    "av.tr", "bbs.tr", "com.tr", "edu.tr", "gen.tr", "gov.tr", "k12.tr",
    "mil.tr", "net.tr", "org.tr", "web.tr",
    "ac.ir", "co.ir", "gov.ir", "id.ir", "net.ir", "org.ir", "sch.ir",
    "com.kz", "edu.kz", "gov.kz", "mil.kz", "net.kz", "org.kz",
    "co.uz", "com.uz", "net.uz", "org.uz",
    "com.ua", "edu.ua", "gov.ua", "in.ua", "net.ua", "org.ua",
    # Africa
    "ac.za", "co.za", "edu.za", "gov.za", "law.za", "mil.za", "net.za",
    "nom.za", "org.za", "school.za", "web.za",
    "com.ng", "edu.ng", "gov.ng", "i.ng", "mobi.ng", "name.ng", "net.ng",
    "org.ng", "sch.ng",
    "ac.ke", "co.ke", "go.ke", "info.ke", "me.ke", "mobi.ke", "ne.ke",
    "or.ke", "sc.ke",
    "com.gh", "edu.gh", "gov.gh", "mil.gh", "org.gh",
    "ac.tz", "co.tz", "go.tz", "hotel.tz", "info.tz", "me.tz", "mil.tz",
    "mobi.tz", "ne.tz", "or.tz", "sc.tz", "tv.tz",
    "ac.ug", "co.ug", "com.ug", "go.ug", "ne.ug", "or.ug", "org.ug",
    "sc.ug",
    "ac.zm", "biz.zm", "co.zm", "com.zm", "edu.zm", "gov.zm", "info.zm",
    "mil.zm", "net.zm", "org.zm", "sch.zm",
    "ac.zw", "co.zw", "gov.zw", "mil.zw", "org.zw",
    "ac.ma", "co.ma", "gov.ma", "net.ma", "org.ma", "press.ma",
    "com.tn", "gov.tn", "net.tn", "org.tn",
    "com.dz", "edu.dz", "gov.dz", "net.dz", "org.dz",
    "com.ly", "edu.ly", "gov.ly", "net.ly", "org.ly", "sch.ly",
    "com.et", "edu.et", "gov.et", "net.et", "org.et",
    "ac.mw", "biz.mw", "co.mw", "com.mw", "coop.mw", "edu.mw", "gov.mw",
    "int.mw", "net.mw", "org.mw",
    "ac.mz", "adv.mz", "co.mz", "edu.mz", "gov.mz", "mil.mz", "net.mz",
    "org.mz",
    "co.bw", "org.bw",
    # Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br", "art.br",
    "adv.br", "blog.br", "eco.br", "emp.br", "eng.br", "esp.br", "ind.br",
    "inf.br", "jus.br", "leg.br", "med.br", "mus.br", "tur.br", "vet.br",
    "wiki.br",
    "com.mx", "edu.mx", "gob.mx", "net.mx", "org.mx",
    "com.ar", "edu.ar", "gob.ar", "gov.ar", "int.ar", "mil.ar", "net.ar",
    "org.ar", "tur.ar",
    "com.co", "edu.co", "gov.co", "mil.co", "net.co", "nom.co", "org.co",
    "com.pe", "edu.pe", "gob.pe", "mil.pe", "net.pe", "nom.pe", "org.pe",
    "com.ve", "co.ve", "edu.ve", "gob.ve", "mil.ve", "net.ve", "org.ve",
    "com.ec", "edu.ec", "fin.ec", "gob.ec", "gov.ec", "info.ec", "k12.ec",
    "med.ec", "mil.ec", "net.ec", "org.ec", "pro.ec",
    "com.uy", "edu.uy", "gub.uy", "mil.uy", "net.uy", "org.uy",
    "com.bo", "edu.bo", "gob.bo", "int.bo", "mil.bo", "net.bo", "org.bo",
    "tv.bo", "web.bo",
    "com.py", "edu.py", "gov.py", "mil.py", "net.py", "org.py",
    "ac.cr", "co.cr", "ed.cr", "fi.cr", "go.cr", "or.cr", "sa.cr",
    "com.pa", "edu.pa", "gob.pa", "net.pa", "org.pa", "sld.pa",
    "com.gt", "edu.gt", "gob.gt", "ind.gt", "mil.gt", "net.gt", "org.gt",
    "com.sv", "edu.sv", "gob.sv", "org.sv", "red.sv",
    "com.hn", "edu.hn", "gob.hn", "mil.hn", "net.hn", "org.hn",
    "com.ni", "edu.ni", "gob.ni", "net.ni", "org.ni",
    "com.do", "edu.do", "gob.do", "gov.do", "mil.do", "net.do", "org.do",
    "com.cu", "edu.cu", "gov.cu", "inf.cu", "net.cu", "org.cu",
    "com.tt", "edu.tt", "gov.tt", "net.tt", "org.tt",
    "com.bb", "edu.bb", "gov.bb", "net.bb", "org.bb",
    "com.bs", "edu.bs", "gov.bs", "net.bs", "org.bs",
    # Europe
    "ac.at", "co.at", "gv.at", "or.at", "priv.at",
    "ac.be",
    "asso.fr", "com.fr", "gouv.fr", "nom.fr", "prd.fr", "tm.fr",
    "com.es", "edu.es", "gob.es", "nom.es", "org.es",
    "com.pt", "edu.pt", "gov.pt", "int.pt", "net.pt", "nome.pt", "org.pt",
    "publ.pt",
    "com.gr", "edu.gr", "gov.gr", "net.gr", "org.gr",
    "arts.ro", "com.ro", "firm.ro", "info.ro", "nom.ro", "nt.ro",
    "org.ro", "rec.ro", "store.ro", "tm.ro", "www.ro",
    "co.hu", "info.hu", "org.hu", "priv.hu", "tm.hu",
    "com.pl", "edu.pl", "gov.pl", "mil.pl", "net.pl", "org.pl",
    "com.ee", "edu.ee", "gov.ee", "org.ee",
    "com.lv", "edu.lv", "gov.lv", "mil.lv", "net.lv", "org.lv", "asn.lv",
    "conf.lv", "id.lv",
    "com.mt", "edu.mt", "net.mt", "org.mt",
    "ac.cy", "biz.cy", "com.cy", "gov.cy", "net.cy", "org.cy", "press.cy",
    "tm.cy",
    "com.hr", "from.hr", "iz.hr", "name.hr",
    "ac.rs", "co.rs", "edu.rs", "gov.rs", "in.rs", "org.rs",
    "com.ba", "edu.ba", "gov.ba", "mil.ba", "net.ba", "org.ba",
    "com.mk", "edu.mk", "gov.mk", "inf.mk", "name.mk", "net.mk", "org.mk",
    "com.al", "edu.al", "gov.al", "mil.al", "net.al", "org.al",
    "ac.me", "co.me", "edu.me", "gov.me", "its.me", "net.me", "org.me",
    "priv.me",
    "ac.ru", "edu.ru", "gov.ru", "int.ru", "mil.ru", "com.ru",
    "com.by", "gov.by", "mil.by", "of.by",
    "com.ge", "edu.ge", "gov.ge", "mil.ge", "net.ge", "org.ge", "pvt.ge",
    "com.am", "net.am", "org.am",
    "com.az", "edu.az", "gov.az", "mil.az", "net.az", "org.az",
    "com.md", "edu.md", "gov.md", "net.md", "org.md",
    "co.gg", "net.gg", "org.gg", "co.je", "net.je", "org.je", "co.im",
    "com.im", "net.im", "org.im",
)

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTHORITY_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_HOST_RE = "^(?:[^@]*@)?([^:]+)"  # strip userinfo@ and :port
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"
_QUERY_RE = "[?]([^#]*)"


#: Matches hosts containing only 7-bit characters — the JVM-side fast
#: path of ``normalize_idn_host`` (virtually every host in a real crawl).
_ASCII_RE = "^[\\x00-\\x7F]*$"


def idn_ascii(host: str | None) -> str | None:
    """Pure-Python IDNA/punycode normalization of one lowercased host:
    ASCII hosts pass through untouched; internationalized hosts encode to
    their ``xn--`` ASCII form (``bücher.de`` -> ``xn--bcher-kva.de``), so
    the unicode and punycode spellings of the same registrable domain
    compare, quota, and dedup as ONE domain. Hosts
    the codec rejects (empty labels, oversized labels) pass through
    unchanged — the documented fallback: a malformed host should gate on
    its literal spelling rather than error the pipeline. This single
    function backs both the Spark UDF and the generated oracle mapping,
    so the two replays cannot drift.

    Known limitation, accepted: the stdlib codec implements IDNA 2003,
    which also folds the UTS-46 deviation characters (eszett -> 'ss',
    final sigma, ZWJ/ZWNJ stripped) — under IDNA 2008 ``straße.de`` and
    ``strasse.de`` are DISTINCT registrable domains, here they merge.
    That matches UTS-46 transitional processing (what crawlers and
    browsers historically did) and errs toward over-merging quota/dedup
    identities; a deployment needing 2008 semantics swaps the encoder in
    this one function (e.g. the ``idna`` package, not in this
    container), and both replays follow automatically."""
    if host is None or host == "" or host.isascii():
        return host
    try:
        return host.encode("idna").decode("ascii")
    except UnicodeError:
        return host


_IDN_UDF = None  # (SparkContext, udf) — see _idn_udf


def _idn_udf():
    """The punycode pandas UDF, created once per SparkContext (it closes
    over nothing call-specific, and parse_urls runs per micro-batch
    inside streaming sinks — re-decorating every call would churn plan
    objects). Keyed on the ACTIVE context, not the process: pyspark
    caches the compiled _judf against the context that first used it, so
    a process-lifetime cache would hand a stopped context's UDF to a
    restarted session (session.py supports stop + re-create in one
    process). No type hints: `from __future__ import annotations`
    stringifies them and the UDF inferrer can't resolve a module-local
    'pd.Series'; defaults to SCALAR eval."""
    global _IDN_UDF
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if _IDN_UDF is None or _IDN_UDF[0] is not sc:

        @F.pandas_udf("string")
        def _idn(hosts):
            return hosts.map(idn_ascii)

        _IDN_UDF = (sc, _idn)
    return _IDN_UDF[1]


def normalize_idn_host(host: Column) -> Column:
    """``idn_ascii`` as a column: ASCII hosts short-circuit JVM-side (the
    regex test and the coalesce never leave codegen), and ONLY non-ASCII
    hosts reach Python — the Arrow batch ships a column that is NULL for
    every ASCII row, because the UDF's argument is ``when(non_ascii,
    host)``, so on an overwhelmingly-ASCII crawl the Python stage
    transfers near-zero bytes and maps nulls. This is the hybrid shape
    for a genuinely non-codegen-able scalar (punycode): keep the common
    case whole-stage-codegen, pay Arrow only for the rows that need it."""
    is_ascii = host.rlike(_ASCII_RE)
    return F.coalesce(
        F.when(is_ascii, host), _idn_udf()(F.when(~is_ascii, host))
    )


def parse_urls(
    df: DataFrame, url_col: str, idn_mapping: bool | None = None
) -> DataFrame:
    """Add ``scheme``, ``host`` (lowercased, userinfo/port stripped,
    IDNA-normalized to punycode — see ``normalize_idn_host``), ``path``
    and ``query`` columns parsed from ``url_col``. Anchored
    ``regexp_extract`` throughout — non-matching components come back as
    '' (both engines' convention), so a relative or malformed URL yields
    empty parts rather than an error; gate upstream if the domain
    requires well-formed URLs.

    IDN normalization shape: punycode runs over the
    DISTINCT non-ASCII hosts only — a UDF pass over a near-empty dimension
    — and rejoins as a broadcast hash join, so the corpus-sized pass has
    NO Python node at all (a per-row hybrid that keeps ASCII bytes out of
    Arrow still walks every row through ArrowEvalPython). The distinct
    non-ASCII host set of a crawl is bounded by vocabulary, not corpus
    size (~1-2% of distinct hosts; a few MB broadcast at web scale).
    Streaming plans keep the inline hybrid — a per-row expression — since
    an unbounded source admits no distinct-then-broadcast.

    ``idn_mapping``: None (default) picks by plan kind — mapping for batch,
    inline hybrid for streaming. Pass False on SMALL batch inputs (a
    foreachBatch micro-batch tick) where the mapping's extra
    distinct+broadcast job costs more than it saves; both paths compute
    identical hosts."""
    u = F.col(url_col)
    authority = F.regexp_extract(u, _AUTHORITY_RE, 1)
    raw_host = F.lower(F.regexp_extract(authority, _HOST_RE, 1))
    if idn_mapping is None:
        idn_mapping = not df.isStreaming
    if df.isStreaming or not idn_mapping:
        return df.withColumns(
            {
                "scheme": F.lower(F.regexp_extract(u, _SCHEME_RE, 1)),
                "host": normalize_idn_host(raw_host),
                "path": F.regexp_extract(u, _PATH_RE, 1),
                "query": F.regexp_extract(u, _QUERY_RE, 1),
            }
        )
    out = df.withColumns(
        {
            "scheme": F.lower(F.regexp_extract(u, _SCHEME_RE, 1)),
            "host": raw_host,
            "path": F.regexp_extract(u, _PATH_RE, 1),
            "query": F.regexp_extract(u, _QUERY_RE, 1),
        }
    )
    cols = out.columns
    mapping = (
        out.where(~F.col("host").rlike(_ASCII_RE))
        .select(F.col("host").alias("__raw_host"))
        .distinct()
        .withColumn("__idn_host", _idn_udf()(F.col("__raw_host")))
    )
    return (
        out.join(
            F.broadcast(mapping), out["host"] == mapping["__raw_host"], "left"
        )
        .withColumn("host", F.coalesce(F.col("__idn_host"), F.col("host")))
        .select(*cols)
    )


def registrable_domain(
    host: Column,
    suffixes: tuple[str, ...] = PUBLIC_SUFFIXES_2LD,
    rules: "PublicSuffixRules | None" = None,
    suffix_file: str | None = None,
) -> Column:
    """The registrable domain of a lowercased host.

    Zero-config default (``suffixes``): last two labels, or last three
    when the trailing two labels form a listed compound public suffix
    (``a.b.co.uk`` -> ``b.co.uk``) — the vendored 2-label ICANN slice.

    Full-snapshot mode: pass ``suffix_file`` (a
    ``public_suffix_list.dat`` path) or pre-parsed ``rules``, and the
    complete publicsuffix.org algorithm runs — multi-label exact rules,
    ``*.``-wildcard rules, and ``!``-exception rules included — still as
    pure codegen'd label expressions (``registrable_domain_psl``).

    In every mode: single-label hosts pass through unchanged, and a host
    that IS a public suffix (e.g. ``co.uk``) also passes through — it has
    no registrable part. No UDF, no shuffle."""
    if suffix_file is not None:
        if rules is not None:
            raise ValueError("pass either rules or suffix_file, not both")
        rules = load_public_suffix_list(suffix_file)
    if rules is not None:
        return registrable_domain_psl(host, rules)
    labels = F.split(host, "[.]")
    n = F.size(labels)
    last3 = F.concat_ws(
        ".",
        F.element_at(labels, -3),
        F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    return (
        F.when(n <= 1, host)
        .when((n >= 3) & last2.isin(*suffixes), last3)
        .otherwise(last2)
    )


# ---------------------------------------------------------------------------
# full Public Suffix List semantics


@dataclass(frozen=True)
class PublicSuffixRules:
    """A parsed PSL snapshot: ``exact`` normal rules ("com", "co.uk",
    "act.edu.au"), ``wildcard`` parents (the "X" of "*.X" rules), and
    ``exception`` rules (the "www.ck" of "!www.ck"). All lowercase,
    dot-separated labels, no leading markers."""

    exact: frozenset = field(default_factory=frozenset)
    wildcard: frozenset = field(default_factory=frozenset)
    exception: frozenset = field(default_factory=frozenset)


#: Post-parse rule charset: lowercase LDH labels joined by dots — what the
#: PSL format yields once markers are stripped. Anything else (quotes,
#: whitespace smuggled past the split, control chars) is rejected at parse
#: time so rule strings can safely embed into generated Spark/DuckDB
#: expressions (the suffix file is external input; a quote inside a rule
#: would otherwise break or inject the oracle SQL).
_RULE_RE = re.compile(r"^[a-z0-9-]+(\.[a-z0-9-]+)*$")


def _validated_rule(rule: str) -> str:
    """Normalize then validate one parsed rule: internationalized rules
    IDNA-encode to their ``xn--`` ASCII form first (the real
    public_suffix_list.dat carries unicode rules; hosts are normalized
    the same way by ``normalize_idn_host``, so rule/host label equality
    holds in punycode space), then anything still outside the LDH
    charset is rejected."""
    rule = idn_ascii(rule)
    if not _RULE_RE.fullmatch(rule):
        raise ValueError(
            f"PSL rule {rule!r} has characters outside [a-z0-9.-]; "
            "refusing to compile it into generated expressions"
        )
    return rule


def parse_public_suffix_list(text: str) -> PublicSuffixRules:
    """Parse ``public_suffix_list.dat`` content per the publicsuffix.org
    format: one rule per line, ``//`` comments and blank lines ignored,
    everything after the first whitespace ignored, ``*.`` prefixes are
    wildcard rules (the wildcard matches exactly one label), ``!``
    prefixes are exception rules. ICANN and private sections are both
    kept — section choice is a snapshot-preparation concern, not a
    parser one. Every parsed rule is validated against the LDH-label
    charset (``_validated_rule``) — the rules compile into generated
    Spark and SQL expressions, so a malformed external snapshot fails
    loudly here instead of producing broken or injectable SQL."""
    exact, wild, exc = set(), set(), set()
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower()
        if rule.startswith("!"):
            exc.add(_validated_rule(rule[1:]))
        elif rule.startswith("*."):
            wild.add(_validated_rule(rule[2:]))
        elif rule == "*":
            continue  # the implicit default rule; always in effect anyway
        else:
            exact.add(_validated_rule(rule))
    return PublicSuffixRules(frozenset(exact), frozenset(wild), frozenset(exc))


def load_public_suffix_list(path: str) -> PublicSuffixRules:
    """Read + parse a PSL snapshot file (UTF-8)."""
    with open(path, encoding="utf-8") as fh:
        return parse_public_suffix_list(fh.read())


def _rules_by_label_count(rule_set) -> dict[int, list[str]]:
    """Group rules by label count, values sorted — shared by the Spark
    when-chain and the SQL generator so both replay the same grouping in
    the same deterministic order."""
    by: dict[int, list[str]] = {}
    for r in rule_set:
        by.setdefault(r.count(".") + 1, []).append(r)
    return {k: sorted(v) for k, v in by.items()}


def psl_domain_sql(rules: PublicSuffixRules) -> str:
    """DuckDB CASE expression replaying ``registrable_domain_psl`` —
    GENERATED from the same PublicSuffixRules object as the Spark
    expression, so the two sides cannot drift (the anti-drift discipline
    of the vendored-slice oracle, extended to full-snapshot semantics).
    Expects the enclosing query to provide ``host`` and
    ``labels = string_split(host, '.')`` columns; DuckDB's negative list
    slice ``labels[-k:]`` clamps on short hosts, producing a shorter
    string that can never equal a k-label rule — the same no-guard
    argument as ``_last_labels``."""

    def lastk(k: int) -> str:
        return f"array_to_string(labels[-{k}:], '.')"

    def inlist(vals: list[str]) -> str:
        # rules are charset-validated at parse time; the escape is defense
        # in depth for PublicSuffixRules built by hand
        return ", ".join("'" + v.replace("'", "''") + "'" for v in vals)

    parts = ["CASE WHEN len(labels) <= 1 THEN host"]
    exc_by = _rules_by_label_count(rules.exception)
    for k in sorted(exc_by, reverse=True):
        parts.append(
            f"WHEN {lastk(k)} IN ({inlist(exc_by[k])}) THEN {lastk(k)}"
        )
    exact_by = _rules_by_label_count(rules.exact)
    wild_by = _rules_by_label_count(rules.wildcard)
    for ell in sorted(set(exact_by) | {k + 1 for k in wild_by}, reverse=True):
        conds = []
        if ell in exact_by:
            conds.append(f"{lastk(ell)} IN ({inlist(exact_by[ell])})")
        if ell - 1 in wild_by:
            conds.append(
                f"(len(labels) >= {ell} AND "
                f"{lastk(ell - 1)} IN ({inlist(wild_by[ell - 1])}))"
            )
        parts.append(
            f"WHEN {' OR '.join(conds)} THEN "
            f"CASE WHEN len(labels) >= {ell + 1} THEN {lastk(ell + 1)} "
            f"ELSE host END"
        )
    parts.append(
        f"ELSE CASE WHEN len(labels) >= 2 THEN {lastk(2)} ELSE host END END"
    )
    return "\n               ".join(parts)


def _last_labels(labels: Column, k: int) -> Column:
    """The host's last ``k`` labels joined with '.'; for hosts with fewer
    than ``k`` labels the missing positions are NULL and concat_ws skips
    them, yielding a SHORTER string that can never equal a k-label rule
    (label counts differ) — so no explicit size guard is needed for
    equality tests against k-label rule sets. ``try_element_at`` (not
    ``element_at``) because these run inside WHEN *conditions* evaluated
    on every row: under ANSI mode (the default of a vanilla Spark 4
    session, i.e. the driver's) a plain element_at(-k) on a shorter
    array throws instead of returning NULL."""
    return F.concat_ws(
        ".", *[F.try_element_at(labels, F.lit(-i)) for i in range(k, 0, -1)]
    )


def registrable_domain_psl(host: Column, rules: PublicSuffixRules) -> Column:
    """The registrable domain under the COMPLETE publicsuffix.org
    algorithm, compiled to one when-chain of label expressions:

    1. exception rules win outright: a host whose last k labels equal a
       ``!``-rule has public suffix = the rule minus its leftmost label,
       so its registrable domain is exactly those k labels
       (``foo.www.ck`` -> ``www.ck``);
    2. otherwise the prevailing rule is the matching rule with the most
       labels — exact rules by string equality on the last-l labels,
       ``*.X`` wildcard rules matching any host with >= len(X)+1 labels
       whose last len(X) labels equal X (the wildcard consumes exactly
       one label) — and the registrable domain is the public suffix plus
       one label;
    3. no match falls to the implicit ``*`` rule: last two labels.

    A host with no label beyond its public suffix passes through
    unchanged (the vendored-slice convention for "no registrable part").
    Membership tests are codegen'd isin sets grouped by label count; the
    whole thing is map-only, shuffle-free, and replayable in SQL."""
    labels = F.split(host, "[.]")
    n = F.size(labels)

    expr = None

    def add(cond: Column, value: Column):
        nonlocal expr
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)

    add(n <= 1, host)
    # 1. exceptions, most labels first (at most one can match a host)
    exc_by = _rules_by_label_count(rules.exception)
    for k in sorted(exc_by, reverse=True):
        add(_last_labels(labels, k).isin(*exc_by[k]), _last_labels(labels, k))
    # 2. normal rules, most labels first; wildcard "*.X" is a rule of
    # len(X)+1 labels whose first label is free
    exact_by = _rules_by_label_count(rules.exact)
    wild_by = _rules_by_label_count(rules.wildcard)  # keyed by len(X); rule len +1
    for ell in sorted(
        set(exact_by) | {k + 1 for k in wild_by}, reverse=True
    ):
        conds = []
        if ell in exact_by:
            conds.append(_last_labels(labels, ell).isin(*exact_by[ell]))
        if ell - 1 in wild_by:
            conds.append(
                (n >= ell)
                & _last_labels(labels, ell - 1).isin(*wild_by[ell - 1])
            )
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        add(
            cond,
            F.when(n >= ell + 1, _last_labels(labels, ell + 1)).otherwise(host),
        )
    # 3. the implicit "*" rule
    return expr.otherwise(
        F.when(n >= 2, _last_labels(labels, 2)).otherwise(host)
    )


def domain_blocklist_flag(
    df: DataFrame, domain_col: str, blocked: tuple[str, ...]
) -> DataFrame:
    """Add ``is_blocked``: registrable-domain membership in ``blocked``.
    An isin over a literal set compiles to a codegen'd lookup — map-only;
    for blocklists beyond literal size, broadcast-join a blocklist dim
    instead (same plan shape, one broadcast)."""
    return df.withColumn("is_blocked", F.col(domain_col).isin(*blocked))


def domain_quota_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    cap: int,
    seed: int | str = "quota",
) -> DataFrame:
    """Keep at most ``cap`` rows per domain — the corpus-balance pass that
    stops one domain from dominating a web corpus. Selection is a
    row_number over (portable data hash, id) WITHIN each domain: a pure
    function of row data, so retries, repartitioning, and engines agree
    on exactly which rows survive (functions/hashing.py discipline).
    Emits the surviving rows plus their ``quota_rank``. One shuffle keyed
    on domain; per-domain work is a bounded heap, not a global sort."""
    w = Window.partitionBy(domain_col).orderBy(
        portable_hash_seeded(F.col(id_col), seed), F.col(id_col)
    )
    return (
        df.withColumn("quota_rank", F.row_number().over(w))
        .where(F.col("quota_rank") <= cap)
    )
