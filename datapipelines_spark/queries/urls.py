"""URL-keyed corpus operations (operators/urls.py) as oracle-checked
queries: parse + registrable domain + blocklist gating, and per-domain
quota sampling. The documents fixture has no URL column, so each query
plants a deterministic URL per document from doc_id alone (the planted-
fixture precedent of the PII and substring-dedup queries) — userinfo,
ports, compound co.uk suffixes, and mixed-case hosts are all exercised."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datapipelines_spark.catalog import query
from datapipelines_spark.operators.urls import PUBLIC_SUFFIXES_2LD, idn_ascii
from datapipelines_spark.sources.parquet import load_table

BLOCKLIST: tuple[str, ...] = ("spam.net", "malware.example")

#: The oracle's suffix membership test is GENERATED from the operator's
#: vendored PSL slice, so the two sides cannot drift.
_SUFFIX_IN = ", ".join(f"'{s}'" for s in PUBLIC_SUFFIXES_2LD)

#: Planted host mix, chosen by doc_id % len(mix). The base mix exercises
#: the PSL slice beyond the old heuristic's reach (gob.mx is a real
#: compound suffix no second-level-label rule matched); the ingest
#: pipelines pin it so their replay outputs stay comparable round over
#: round.
_HOSTS_V1: tuple[str, ...] = (
    "news.example.com",
    "shop.retail.co.uk",
    "Example.Org",
    "cdn.assets.example.com",
    "tracker.spam.net",
    "portal.datos.gob.mx",
    "blog.spam.net",
)

#: The IDN-extended mix: the SAME registrable
#: domain spelled in unicode and in punycode — after normalization both
#: must collapse to xn--bcher-kva.example, so per-domain quota and dedup
#: treat them as one domain.
_HOSTS_IDN: tuple[str, ...] = _HOSTS_V1 + (
    "bücher.example",
    "xn--bcher-kva.example",
)


def _host_case_sql(hosts: tuple[str, ...]) -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(hosts[:-1])
    )
    return (
        f"(CASE doc_id % {len(hosts)} {whens} ELSE '{hosts[-1]}' END)"
    )


def _idn_case_sql(hosts: tuple[str, ...]) -> str:
    """Oracle replay of normalize_idn_host over the PLANTED mix: a
    literal CASE generated by the SAME ``idn_ascii`` encoder the Spark
    UDF runs, so the punycode mapping cannot drift between replays.
    Identity (empty string) when the mix is pure ASCII."""
    pairs = [
        (h.lower(), idn_ascii(h.lower()))
        for h in hosts
        if not h.isascii()
    ]
    if not pairs:
        return ""
    whens = " ".join(f"WHEN '{u}' THEN '{a}'" for u, a in pairs)
    return f"CASE host {whens} ELSE host END"


def _url_sql(hosts: tuple[str, ...]) -> str:
    """Oracle CTE chain — the planted URL, its parse (with IDN
    normalization when the mix plants non-ASCII hosts), and the
    registrable domain — generated from the same host mix as the Spark
    fixture."""
    idn = _idn_case_sql(hosts)
    norm = f",\n    np AS (SELECT * REPLACE ({idn} AS host) FROM p)" if idn else ""
    return f"""
    u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
               || '://'
               || (CASE WHEN doc_id % 5 = 0 THEN 'user@' ELSE '' END)
               || {_host_case_sql(hosts)}
               || (CASE WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
               || '/p/' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 0
                   THEN '?q=' || CAST(doc_id % 10 AS VARCHAR) ELSE '' END)
                   AS url
        FROM documents
    ),
    p AS (
        SELECT doc_id, url,
               lower(regexp_extract(url,
                     '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               lower(regexp_extract(
                     regexp_extract(url,
                         '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                     '^(?:[^@]*@)?([^:]+)', 1)) AS host,
               regexp_extract(url,
                     '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
               regexp_extract(url, '[?]([^#]*)', 1) AS url_query
        FROM u
    ){norm},
    lab AS (SELECT *, string_split(host, '.') AS labels
            FROM {"np" if idn else "p"}),
    dom AS (
        SELECT doc_id, scheme, host, path, url_query,
               CASE WHEN len(labels) <= 1 THEN host
                    WHEN len(labels) >= 3 AND
                         (labels[-2] || '.' || labels[-1]) IN ({_SUFFIX_IN})
                    THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                    ELSE labels[-2] || '.' || labels[-1] END AS domain
        FROM lab
    )"""


#: The ingest pipelines splice this (pinned V1 mix, pure ASCII — the
#: normalization CTE is elided, so the spliced chain is unchanged).
_URL_SQL = _url_sql(_HOSTS_V1)

#: The URL-query oracles use the IDN-extended mix.
_URL_SQL_IDN = _url_sql(_HOSTS_IDN)


def _planted_urls(
    spark: SparkSession, sf_dir: str, hosts: tuple[str, ...] = _HOSTS_V1
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id")
    host = None
    for i, h in enumerate(hosts[:-1]):
        cond = k % len(hosts) == i
        host = F.when(cond, h) if host is None else host.when(cond, h)
    host = host.otherwise(F.lit(hosts[-1]))
    url = F.concat(
        F.when(k % 2 == 0, "https").otherwise("http"),
        F.lit("://"),
        F.when(k % 5 == 0, "user@").otherwise(""),
        host,
        F.when(k % 4 == 1, ":8080").otherwise(""),
        F.lit("/p/"),
        k.cast("string"),
        F.when(k % 3 == 0, F.concat(F.lit("?q="), (k % 10).cast("string"))).otherwise(
            ""
        ),
    )
    return d.select("doc_id", url.alias("url"))


@query(
    "url_parse_documents",
    oracle=f"""
    WITH {_URL_SQL_IDN}
    SELECT doc_id, scheme, host, domain, path, url_query,
           domain IN ('spam.net', 'malware.example') AS is_blocked
    FROM dom
    ORDER BY doc_id
    """,
)
def url_parse_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parse + registrable domain + blocklist gate
    (operators/urls.py): every planted URL — userinfo prefixes, :8080
    ports, mixed-case hosts, compound co.uk suffixes, and
    the unicode and punycode spellings of one internationalized domain —
    decomposes into (scheme, host, domain, path, query) with the
    blocklist verdict on the REGISTRABLE domain, so tracker.spam.net and
    blog.spam.net both gate on spam.net, and bücher.example collapses
    onto xn--bcher-kva.example (normalize_idn_host: ASCII hosts stay in
    codegen, only non-ASCII rows cross to the Arrow punycode UDF). The
    oracle replays the URL construction, both regex layers, the IDN
    mapping (generated from the same idn_ascii encoder), the suffix
    rule, and the membership test."""
    from datapipelines_spark.operators.urls import (
        domain_blocklist_flag,
        parse_urls,
        registrable_domain,
    )

    parsed = parse_urls(
        _planted_urls(spark, sf_dir, hosts=_HOSTS_IDN), "url"
    ).withColumn("domain", registrable_domain(F.col("host")))
    return (
        domain_blocklist_flag(parsed, "domain", BLOCKLIST)
        .select(
            "doc_id",
            "scheme",
            "host",
            "domain",
            "path",
            F.col("query").alias("url_query"),
            "is_blocked",
        )
        .orderBy("doc_id")
    )


@query(
    "domain_quota_sample_docs",
    oracle=f"""
    WITH {_URL_SQL_IDN},
    r AS (
        SELECT doc_id, domain,
               ROW_NUMBER() OVER (
                   PARTITION BY domain
                   ORDER BY CAST('0x' || substr(
                            md5('quota-' || CAST(doc_id AS VARCHAR)),
                            1, 8) AS BIGINT),
                            doc_id
               ) AS quota_rank
        FROM dom
    )
    SELECT doc_id, domain, CAST(quota_rank AS BIGINT) AS quota_rank
    FROM r WHERE quota_rank <= 40
    ORDER BY doc_id
    """,
)
def domain_quota_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus quota (operators/urls.py:domain_quota_sample):
    keep at most 40 documents per registrable domain, chosen by the
    portable data hash inside each domain partition — the corpus-balance
    pass that caps any one domain's share of a web crawl. Deterministic
    by construction (hash of doc_id, ties by doc_id): retries,
    partitioning, and the DuckDB replay all keep the SAME 40. One shuffle
    keyed on domain. The IDN-extended mix makes the quota's domain key
    punycode-normalized: the unicode and punycode spellings of
    xn--bcher-kva.example share ONE 40-doc budget instead of two."""
    from datapipelines_spark.operators.urls import (
        domain_quota_sample,
        parse_urls,
        registrable_domain,
    )

    parsed = parse_urls(
        _planted_urls(spark, sf_dir, hosts=_HOSTS_IDN), "url"
    ).withColumn("domain", registrable_domain(F.col("host")))
    return (
        domain_quota_sample(parsed, "domain", "doc_id", cap=40)
        .select(
            "doc_id", "domain", F.col("quota_rank").cast("bigint").alias("quota_rank")
        )
        .orderBy("doc_id")
    )


#: A full-format PSL snapshot exercising every rule kind the
#: publicsuffix.org algorithm defines — multi-label exact rules,
#: ``*.``-wildcard rules (the wildcard consumes exactly one label), and
#: ``!``-exception rules (the canonical ck / kobe.jp cases from the
#: official test data) — vendored for the driver query below.
PSL_SNAPSHOT = """\
// ===BEGIN ICANN DOMAINS===
com
uk
co.uk
jp
*.kobe.jp
!city.kobe.jp
*.ck
!www.ck
au
edu.au
act.edu.au
// ===END ICANN DOMAINS===
// ===BEGIN PRIVATE DOMAINS===
github.io
// ===END PRIVATE DOMAINS===
"""

#: Hosts planted by doc_id % 13 — every branch of the algorithm: exact
#: 1/2/3-label rules, wildcard matches, exception overrides, pass-through
#: public suffixes, private-section rules, and the implicit '*' default.
_PSL_HOSTS: tuple[str, ...] = (
    "example.com",
    "b.example.co.uk",
    "foo.act.edu.au",
    "www.foo.act.edu.au",
    "a.b.test.ck",
    "test.ck",
    "foo.www.ck",
    "www.ck",
    "a.b.c.kobe.jp",
    "city.kobe.jp",
    "www.city.kobe.jp",
    "a.blog.github.io",
    "sub.example.xyz",
)


def _psl_oracle() -> str:
    from datapipelines_spark.operators.urls import (
        parse_public_suffix_list,
        psl_domain_sql,
    )

    rules = parse_public_suffix_list(PSL_SNAPSHOT)
    host_case = "CASE doc_id % 13 " + " ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(_PSL_HOSTS)
    ) + " END"
    return f"""
    WITH u AS (
        SELECT doc_id, {host_case} AS host FROM documents
    ),
    lab AS (SELECT doc_id, host, string_split(host, '.') AS labels FROM u)
    SELECT doc_id, host,
           {psl_domain_sql(rules)} AS domain
    FROM lab
    ORDER BY doc_id
    """


@query("url_psl_snapshot_domains", oracle=_psl_oracle())
def url_psl_snapshot_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable domains under a FULL Public Suffix List snapshot
    (operators/urls.py:registrable_domain(rules=...)): planted hosts cover every branch of the publicsuffix.org
    algorithm — multi-label exact rules (act.edu.au), ``*.``-wildcard
    rules where any single label under the parent is itself a public
    suffix (a.b.test.ck -> b.test.ck), ``!``-exception rules that carve
    a registrable domain back out of a wildcard (www.city.kobe.jp ->
    city.kobe.jp), hosts that ARE public suffixes (pass-through), a
    private-section rule, and the implicit '*' default.

    Anti-drift: BOTH replays are generated from the same parsed
    PublicSuffixRules — the Spark when-chain by registrable_domain_psl,
    the oracle CASE by psl_domain_sql — so a parser or precedence change
    breaks the differential instead of slipping through. Map-only
    codegen; no UDF, no shuffle, any corpus size."""
    from datapipelines_spark.operators.urls import (
        parse_public_suffix_list,
        registrable_domain,
    )

    rules = parse_public_suffix_list(PSL_SNAPSHOT)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    host = None
    for i, h in enumerate(_PSL_HOSTS):
        cond = F.col("doc_id") % 13 == i
        host = F.when(cond, h) if host is None else host.when(cond, h)
    host = host.otherwise(F.lit(None))
    return (
        d.select("doc_id", host.alias("host"))
        .withColumn("domain", registrable_domain(F.col("host"), rules=rules))
        .orderBy("doc_id")
    )
