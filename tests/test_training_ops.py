"""Round-3 training-pipeline operators: C4 span dedup, length-bucketed
batching, top n-grams and half-life EWMA."""

from rassengine_spark.llmops.splits import length_bucket_batches
from rassengine_spark.llmops.text_analysis import span_dedup


def test_span_dedup_drops_repeated_boilerplate(spark):
    bp = "One shared. Two shared. Three shared. "
    docs = spark.createDataFrame(
        [(1, bp + "Doc one body. It is unique. Truly unique."),
         (2, bp + "Doc two body. Also unique. Very different."),
         (3, bp)],
        "doc_id bigint, text string")
    got = {r.id: r for r in span_dedup(docs, "text", "doc_id").collect()}
    # doc 1 is the first (id, span_pos) occurrence of the boilerplate span
    assert got[1].text.startswith("One shared. Two shared. Three shared.")
    assert got[1].n_dropped == 0
    # docs 2 and 3 lose it
    assert got[2].text.startswith("Doc two body.")
    assert got[2].n_dropped == 1
    assert "shared" not in got[3].text
    assert got[3].n_dropped == 1
    # unique spans survive
    assert "Truly unique." in got[1].text
    assert "Very different." in got[2].text


def test_span_dedup_null_and_empty_text(spark):
    docs = spark.createDataFrame([(1, None), (2, "")],
                                 "doc_id bigint, text string")
    got = {r.id: r for r in span_dedup(docs, "text", "doc_id").collect()}
    # empty span is exempt from dedup; both docs keep their single span
    assert got[1].text == "" and got[2].text == ""
    assert got[1].n_dropped == 0 and got[2].n_dropped == 0


def test_length_bucket_batches_shapes_and_padding(spark):
    rows = [(i, 10 + (i % 3)) for i in range(50)]   # lengths 10..12
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens int")
    out = length_bucket_batches(df, "doc_id", "n_tokens",
                                bucket_width=4, batch_size=4, shards=2)
    got = out.collect()
    assert sum(r.n_seqs for r in got) == 50
    for r in got:
        assert 1 <= r.n_seqs <= 4
        assert r.bucket in (2, 3)                    # 10//4=2, 12//4=3
        assert r.padding == r.n_seqs * r.max_tokens - r.sum_tokens
        assert r.padding >= 0
    # deterministic under repartitioning
    again = length_bucket_batches(df.repartition(7), "doc_id", "n_tokens",
                                  bucket_width=4, batch_size=4, shards=2)
    assert sorted(map(tuple, got)) == sorted(map(tuple, again.collect()))


def test_top_ngrams_counts_and_short_doc_guard(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the cat mat"),
         (2, "the cat sat"),
         (3, "one"),              # shorter than n: contributes nothing
         (4, None)],
        "doc_id bigint, text string")
    from rassengine_spark.llmops.text_analysis import top_ngrams
    got = [(r.ngram, r.cnt) for r in
           top_ngrams(docs, "text", n=2, k=3).collect()]
    # "the cat" x3 tops; ties broken by ngram asc
    assert got[0] == ("the cat", 3)
    assert got[1] == ("cat sat", 2)
    assert len(got) == 3
    # n=3 exercises the chained zip expansion (two zip_with passes);
    # doc 2 has exactly one trigram, doc 3 none
    got3 = [(r.ngram, r.cnt) for r in
            top_ngrams(docs, "text", n=3, k=2).collect()]
    assert got3[0] == ("the cat sat", 2)
    assert got3[1] == ("cat sat on", 1)


def test_ewma_half_matches_python_reference(spark):
    """ewma_half == the adjusted-EWMA closed form with decay 1/2,
    truncated at max_lag; repartition-invariant (the ordered fold is
    explicit, not a window SUM's association order)."""
    from rassengine_spark.operators.windows import ewma_half
    rows = [("a", t, float((t * 37) % 11) + 0.25) for t in range(20)]
    rows += [("b", t, 100.0 - t) for t in range(5)]
    df = spark.createDataFrame(rows, "p string, o int, x double")

    def ref(xs, t, lag):
        lo = max(0, t - lag)
        num = sum(xs[s] * 2.0 ** (s - t) for s in range(lo, t + 1))
        den = sum(2.0 ** (s - t) for s in range(lo, t + 1))
        return round(num / den, 4)

    for lag in (50, 3):
        got = {(r.p, r.o): r.ewma
               for r in ewma_half(df, "p", "o", "x",
                                  max_lag=lag).collect()}
        xs_a = [x for _, _, x in rows[:20]]
        xs_b = [x for _, _, x in rows[20:]]
        for t in range(20):
            assert got[("a", t)] == ref(xs_a, t, lag), (lag, t)
        for t in range(5):
            assert got[("b", t)] == ref(xs_b, t, lag), (lag, t)
    rep = {(r.p, r.o): r.ewma
           for r in ewma_half(df.repartition(9), "p", "o", "x").collect()}
    assert rep == {(r.p, r.o): r.ewma
                   for r in ewma_half(df, "p", "o", "x").collect()}


def test_ewma_half_long_span_and_lag_bounds(spark):
    """A partition spanning >= 32 steps exercises shift counts past
    INT32 (the DuckDB-oracle overflow class: a plain `1 <<` is INT32 and
    throws at lag 31); max_lag outside [0, 62] must raise instead of
    silently wrapping the JVM's mod-64 shift."""
    import duckdb
    import pytest

    from rassengine_spark.operators.windows import ewma_half
    rows = [("a", t, float((t * 13) % 7) + 0.5) for t in range(40)]
    df = spark.createDataFrame(rows, "p string, o int, x double")
    got = {r.o: r.ewma for r in ewma_half(df, "p", "o", "x").collect()}
    assert len(got) == 40

    # the oracle's weight form on a 40-step span (shift count up to 39)
    con = duckdb.connect()
    oracle = con.execute("""
        WITH idx AS (SELECT * FROM (VALUES {vals}) v(t, x))
        SELECT a.t,
               round(SUM(b.x / CAST(CAST(1 AS BIGINT) << CAST(a.t - b.t AS INT) AS DOUBLE) ORDER BY b.t)
                     / SUM(1.0 / CAST(CAST(1 AS BIGINT) << CAST(a.t - b.t AS INT) AS DOUBLE) ORDER BY b.t), 4) AS ewma
        FROM idx a JOIN idx b ON b.t <= a.t AND a.t - b.t <= 50
        GROUP BY a.t
    """.format(vals=", ".join(f"({t}, {x})" for _, t, x in rows))).fetchall()
    assert {t: e for t, e in oracle} == got

    for bad in (-1, 63, 64):
        with pytest.raises(ValueError, match="max_lag"):
            ewma_half(df, "p", "o", "x", max_lag=bad)


