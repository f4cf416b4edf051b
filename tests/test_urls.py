"""URL-level curation: host/domain extraction and per-URL feature
flags."""

from pyspark.sql import functions as F

from rassengine_spark.llmops.urls import registered_domain, url_features


def test_url_features(spark):
    rows = [
        (1, "https://docs.example.co/guide/intro.html?x=1"),
        (2, "http://user@sub.blog.net:8080/a/b/c"),
        (3, "https://192.168.0.1/admin"),
        (4, "https://cdn.example.co/logo.png"),
        (5, "not a url"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.id: r for r in
           url_features(df, "url", "doc_id").collect()}
    assert out[1].host == "docs.example.co"
    assert out[1].domain == "example.co"
    assert (out[1].path_depth, out[1].has_query) == (2, True)
    assert not out[1].suspect_ext
    assert out[2].host == "sub.blog.net" and out[2].domain == "blog.net"
    assert out[2].path_depth == 3
    assert out[3].is_ip
    assert out[4].suspect_ext
    assert out[5].host == "" and not out[5].is_ip


def test_registered_domain_single_label(spark):
    df = spark.createDataFrame([(1, "https://localhost/x")],
                               "doc_id long, url string")
    got = df.select(registered_domain(F.col("url")).alias("d")).first().d
    assert got == "localhost"


def test_registered_domain_multi_label_suffix(spark):
    df = spark.createDataFrame(
        [(1, "https://news.bbc.co.uk/story"),
         (2, "https://bbc.co.uk/"),
         (3, "https://shop.example.com.au/x"),
         (4, "https://plain.example.org/y")],
        "doc_id long, url string")
    got = {r.doc_id: r.d for r in
           df.select("doc_id",
                     registered_domain(F.col("url")).alias("d")).collect()}
    assert got == {1: "bbc.co.uk", 2: "bbc.co.uk",
                   3: "example.com.au", 4: "example.org"}


def test_url_features_query_slashes_are_not_path(spark):
    df = spark.createDataFrame(
        [(1, "https://x.com?next=/a/b"),
         (2, "https://x.com?file=x.exe")], "doc_id long, url string")
    out = {r.id: r for r in url_features(df, "url", "doc_id").collect()}
    assert out[1].path_depth == 0
    assert not out[2].suspect_ext and out[2].has_query


def test_canonical_url_full_normalization(spark):
    from rassengine_spark.llmops.urls import canonical_url
    rows = [
        (1, "  HTTPS://WWW.Example.COM:443/Path/X?utm_source=a&b=2&a=1#frag"),
        (2, "http://site.org:80"),                      # empty path -> /
        (3, "http://site.org:8080/x"),                  # non-default port kept
        (4, "https://h.net/p?utm_campaign=z&fbclid=q"), # all params tracked
        (5, "not a url at all  "),                      # pass-through, trimmed
        (6, "ftp://Host.com:80/f?b=1&a=2"),             # :80 only for http
        (7, "https://UserA@Host.com/x"),                # userinfo case kept
    ]
    df = spark.createDataFrame(rows, "id int, url string")
    got = {r.id: r.canon
           for r in df.select("id", canonical_url("url").alias("canon"))
                      .collect()}
    assert got[1] == "https://www.example.com/Path/X?a=1&b=2"
    assert got[2] == "http://site.org/"
    assert got[3] == "http://site.org:8080/x"
    assert got[4] == "https://h.net/p"
    assert got[5] == "not a url at all"
    assert got[6] == "ftp://host.com:80/f?a=2&b=1"
    assert got[7] == "https://UserA@host.com/x"


def test_canonical_url_is_idempotent(spark):
    from rassengine_spark.llmops.urls import canonical_url
    rows = [(i, f"HTTP://A{i}.COM:80/p{i}?utm_x=1&z=2&y={i}#f")
            for i in range(20)]
    df = spark.createDataFrame(rows, "id int, url string")
    once = df.select("id", canonical_url("url").alias("c1"))
    twice = once.select("id", "c1", canonical_url("c1").alias("c2"))
    assert twice.filter("c1 <> c2").count() == 0
