"""URL operators (operators/urls.py): parse edge cases, the registrable-
domain suffix rule, blocklist gating on the registrable domain, and the
quota sampler's determinism + cap contract."""

import pyspark.sql.functions as F

from datapipelines_spark.operators.urls import (
    domain_blocklist_flag,
    domain_quota_sample,
    parse_urls,
    registrable_domain,
)


def _parsed(spark, urls):
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "id long, url string")
    return {
        r["url"]: (r["scheme"], r["host"], r["path"], r["query"])
        for r in parse_urls(df, "url").collect()
    }


def test_parse_components_and_edge_cases(spark):
    got = _parsed(
        spark,
        [
            "https://news.example.com/a/b?x=1",
            "http://user:pw@Shop.Retail.CO.UK:8080/cart",
            "HTTPS://EXAMPLE.ORG",  # no path, uppercase scheme+host
            "ftp+ssh://host.net/file#frag",  # exotic scheme, fragment
            "not a url at all",  # malformed -> all-empty parts
        ],
    )
    assert got["https://news.example.com/a/b?x=1"] == (
        "https", "news.example.com", "/a/b", "x=1",
    )
    assert got["http://user:pw@Shop.Retail.CO.UK:8080/cart"] == (
        "http", "shop.retail.co.uk", "/cart", "",
    )
    assert got["HTTPS://EXAMPLE.ORG"] == ("https", "example.org", "", "")
    assert got["ftp+ssh://host.net/file#frag"] == ("ftp+ssh", "host.net", "/file", "")
    assert got["not a url at all"] == ("", "", "", "")


def test_registrable_domain_suffix_rule(spark):
    hosts = [
        ("news.example.com", "example.com"),
        ("a.b.c.example.com", "example.com"),
        ("shop.retail.co.uk", "retail.co.uk"),
        ("example.org", "example.org"),
        ("co.uk", "co.uk"),  # 2 labels: never extended to 3
        ("localhost", "localhost"),  # single label passes through
        # PSL-slice entries the old second-level-label heuristic missed:
        ("portal.datos.gob.mx", "datos.gob.mx"),
        ("www.city.or.jp", "city.or.jp"),
        ("shop.site.com.au", "site.com.au"),
        ("x.y.ne.kr", "y.ne.kr"),
        # ...and invented pairs it over-matched (net.de is NOT a suffix):
        ("a.net.de", "net.de"),
        ("b.co.com", "co.com"),
    ]
    df = spark.createDataFrame(hosts, "host string, want string")
    rows = df.select("want", registrable_domain(F.col("host")).alias("got")).collect()
    assert all(r["got"] == r["want"] for r in rows), rows


def test_registrable_domain_property_vs_python_reference(spark):
    """Property check: for generated hosts over a label alphabet that
    includes every suffix-forming label, the Spark expression must agree
    with a direct Python implementation of the published PSL rule (longest
    listed suffix + one label) restricted to the vendored 2-label slice."""
    import itertools

    from datapipelines_spark.operators.urls import PUBLIC_SUFFIXES_2LD

    sfx = set(PUBLIC_SUFFIXES_2LD)

    def ref(host):
        labels = host.split(".")
        if len(labels) <= 1:
            return host
        if len(labels) >= 3 and ".".join(labels[-2:]) in sfx:
            return ".".join(labels[-3:])
        return ".".join(labels[-2:])

    alphabet = ["co", "uk", "com", "au", "gob", "mx", "example", "www", "x"]
    hosts = [
        ".".join(t)
        for n in (1, 2, 3, 4)
        for t in itertools.product(alphabet, repeat=n)
    ]
    # dedupe while keeping deterministic order
    hosts = list(dict.fromkeys(hosts))
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r["host"]: r["d"]
        for r in df.select(
            "host", registrable_domain(F.col("host")).alias("d")
        ).collect()
    }
    for h in hosts:
        assert got[h] == ref(h), h


def test_blocklist_gates_on_registrable_domain(spark):
    df = spark.createDataFrame(
        [("tracker.spam.net",), ("blog.spam.net",), ("spam.net.example.com",)],
        "host string",
    )
    out = domain_blocklist_flag(
        df.withColumn("domain", registrable_domain(F.col("host"))),
        "domain",
        ("spam.net",),
    )
    got = {r["host"]: r["is_blocked"] for r in out.collect()}
    # both spam.net subdomains gate; a spam.net PREFIX of another domain
    # must not (its registrable domain is example.com)
    assert got == {
        "tracker.spam.net": True,
        "blog.spam.net": True,
        "spam.net.example.com": False,
    }


def test_quota_sample_cap_and_partitioning_invariance(spark):
    rows = [(i, f"d{i % 3}") for i in range(100)]
    a = spark.createDataFrame(rows, "id long, domain string").repartition(1)
    b = spark.createDataFrame(rows, "id long, domain string").repartition(13)
    ka = sorted((r["domain"], r["id"]) for r in domain_quota_sample(a, "domain", "id", 10).collect())
    kb = sorted((r["domain"], r["id"]) for r in domain_quota_sample(b, "domain", "id", 10).collect())
    assert ka == kb
    per_dom = {}
    for d, _ in ka:
        per_dom[d] = per_dom.get(d, 0) + 1
    assert per_dom == {"d0": 10, "d1": 10, "d2": 10}
    # a domain under its cap keeps everything
    small = spark.createDataFrame([(1, "x"), (2, "x")], "id long, domain string")
    assert domain_quota_sample(small, "domain", "id", 10).count() == 2


def test_parse_agrees_with_urllib_reference(spark):
    """Property check against the public stdlib reference: for generated
    well-formed URLs, parse_urls must agree with urllib.parse.urlsplit on
    scheme, host (urlsplit.hostname lowercases and strips userinfo/port),
    path, and query."""
    from urllib.parse import urlsplit

    import itertools

    schemes = ["http", "HTTPS", "ftp+ssh"]
    auths = [
        "example.com",
        "User@Example.COM",
        "a.b.co.uk:8443",
        "u:p@Host.Net:80",
    ]
    paths = ["", "/", "/a/b.html", "/p%20q"]
    queries = ["", "?x=1&y=2", "?q="]
    urls = [
        f"{s}://{a}{p}{q}"
        for s, a, p, q in itertools.product(schemes, auths, paths, queries)
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "id long, url string")
    rows = {r["url"]: r for r in parse_urls(df, "url").collect()}
    for u in urls:
        ref = urlsplit(u)
        got = rows[u]
        assert got["scheme"] == ref.scheme.lower(), u
        assert got["host"] == (ref.hostname or ""), u
        assert got["path"] == ref.path, u
        assert got["query"] == ref.query, u


def test_idn_spellings_collapse_to_one_domain(spark):
    """The unicode and punycode spellings of one internationalized host
    must normalize to the SAME registrable domain —
    otherwise a real crawl quotas and dedups them as two domains."""
    urls = [
        "https://bücher.example/p/1",
        "https://xn--bcher-kva.example/p/2",
        "http://shop.BÜCHER.example:8080/p/3",  # subdomain + upper-case
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "id long, url string"
    )
    out = parse_urls(df, "url").withColumn(
        "domain", registrable_domain(F.col("host"))
    )
    doms = {r["domain"] for r in out.collect()}
    assert doms == {"xn--bcher-kva.example"}


def test_idn_ascii_reference_behavior():
    from datapipelines_spark.operators.urls import idn_ascii

    assert idn_ascii(None) is None
    assert idn_ascii("") == ""
    assert idn_ascii("plain.example.com") == "plain.example.com"  # untouched
    assert idn_ascii("bücher.example") == "xn--bcher-kva.example"
    assert idn_ascii("xn--bcher-kva.example") == "xn--bcher-kva.example"
    # codec-rejected hosts pass through (documented fallback)
    assert idn_ascii("bü..example") == "bü..example"


def test_idn_normalization_fast_path_stays_jvm_side(spark):
    """Plan shape: the ASCII fast path must not feed host strings to the
    Python stage — the UDF's argument is NULL for ASCII rows, so the
    Arrow transfer for an all-ASCII corpus carries a null column. Checked
    structurally: the UDF input expression is a CASE WHEN on the
    non-ASCII predicate, visible in the analyzed plan."""
    df = spark.createDataFrame([("a.example.com",)], "h string")
    from datapipelines_spark.operators.urls import normalize_idn_host

    out = df.select(normalize_idn_host(F.col("h")).alias("host"))
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "CASE WHEN" in plan and "_idn" in plan
    assert out.collect()[0]["host"] == "a.example.com"
