"""Partition predicates (pruning!), schema alignment, text functions."""

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from m3d_engine_spark.plans.partitions import (
    add_missing_columns,
    collect_partitions,
    partition_predicate,
    partition_where_sql,
)


def test_partition_predicate_or_of_ands(spark):
    df = spark.createDataFrame(
        [Row(year=2016, month=1, v=1), Row(year=2016, month=2, v=2), Row(year=2017, month=1, v=3)]
    )
    crit = [[("year", 2016), ("month", 2)], [("year", 2017), ("month", 1)]]
    out = df.filter(partition_predicate(crit))
    assert sorted(r.v for r in out.collect()) == [2, 3]
    assert df.filter(partition_predicate([])).isEmpty()


def test_partition_predicate_prunes_parquet_scan(spark, tmp_path):
    """The design-goal test: the predicate must reach the file source as
    a partition filter (SURVEY.md §4), not a post-scan row filter."""
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [Row(v=i, year=2016 + i % 3) for i in range(30)]
    ).write.partitionBy("year").parquet(p)
    df = spark.read.parquet(p).filter(partition_predicate([[("year", 2017)]]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(year" in plan or "year#" in plan.split("PartitionFilters")[1][:200]
    assert df.count() == 10


def test_partition_where_sql():
    crit = [[("year", 2016), ("name", "o'brien")], [("year", 2017)]]
    s = partition_where_sql(crit)
    assert s == "(year = 2016 AND name = 'o''brien') OR (year = 2017)"


def test_collect_partitions(spark):
    df = spark.createDataFrame([Row(year=2016, m=1), Row(year=2016, m=1), Row(year=2017, m=2)])
    parts = collect_partitions(df, ["year", "m"])
    assert sorted(parts) == [[("year", 2016), ("m", 1)], [("year", 2017), ("m", 2)]]


def test_add_missing_columns_types(spark):
    target = StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "a", "type": "integer", "nullable": True, "metadata": {}},
                {"name": "b", "type": "string", "nullable": True, "metadata": {}},
                {"name": "c", "type": "double", "nullable": True, "metadata": {}},
            ],
        }
    )
    df = spark.createDataFrame([Row(a=1)])
    out = add_missing_columns(df, target)
    assert [f.name for f in out.schema.fields] == ["a", "b", "c"]
    assert out.schema["c"].dataType.simpleString() == "double"
    r = out.collect()[0]
    assert (r.a, r.b, r.c) == (1, None, None)


def test_text_functions_on_documents(spark, sf_dir):
    from m3d_engine_spark.functions import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.fingerprint(F.col("text")).alias("fp"),
        T.quality_score(F.col("text")).alias("q"),
        T.predicted_language(F.col("text")).alias("pl"),
    )
    rows = out.collect()
    assert all(r.n_tokens > 0 for r in rows)
    assert all(len(r.fp) == 32 for r in rows)
    assert all(0.0 <= r.q <= 1.0 for r in rows)
    assert all(r.pl in {"en", "fr", "de", "es", "zh", "und"} for r in rows)


def test_gopher_quality_stats_values(spark):
    """Hand-checked Gopher rule values, incl. the edge cases the ANSI
    engine turns into aborts if unguarded (empty text, single token)
    and the documented >1.0 overlap quirk of top-n-gram char frac."""
    from m3d_engine_spark.operators.decontamination import (
        gopher_quality_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "aa bb cc\naa bb cc\n- dd ee\nff gg...\n"),
            (2, "one two one two one two"),
            (3, ""),
            (4, "solo"),
        ],
        ["doc_id", "text"],
    )
    r = {x.doc_id: x for x in gopher_quality_stats(df, "doc_id", "text").collect()}
    assert r[1].n_lines == 4
    assert r[1].dup_line_frac == 0.25          # 1 of 4 lines is a repeat
    # dup chars = 8 ("aa bb cc" second copy) / 31 total line chars
    assert r[1].dup_line_char_frac == round(8 / 31, 4)
    assert r[1].ellipsis_line_frac == 0.25 and r[1].bullet_line_frac == 0.25
    # "one two" x3: 7 chars * 3 / 23; overlap quirk: top4 > 1.0
    assert r[2].top2_char_frac == round(21 / 23, 4)
    assert r[2].top4_char_frac > 1.0
    assert r[3] == r[3].__class__(doc_id=3, n_lines=0, dup_line_frac=0.0,
                                  dup_line_char_frac=0.0, top2_char_frac=0.0,
                                  top3_char_frac=0.0, top4_char_frac=0.0,
                                  ellipsis_line_frac=0.0, bullet_line_frac=0.0)
    assert r[4].n_lines == 1 and r[4].top2_char_frac == 0.0


def test_canonical_url_edge_cases(spark):
    from m3d_engine_spark.functions.urls import canonical_url, url_domain

    cases = [
        # (raw, canonical, domain)
        ("HTTP://WWW.Foo.COM:80/A?utm_source=x&id=1#f",
         "https://foo.com/A?id=1", "foo.com"),
        ("https://foo.com:443/?utm_a=1&utm_b=2", "https://foo.com", "foo.com"),
        ("https://foo.com/p/?id=1&ref=z&gclid=9", "https://foo.com/p/?id=1",
         "foo.com"),
        ("  http://bar.org/  ", "https://bar.org", "bar.org"),
        # no scheme at all: passes through un-lowercased, no crash
        ("not a url", "not a url", ""),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _, _) in enumerate(cases)], ["i", "url"]
    )
    got = {
        r.i: (r.c, r.d)
        for r in df.select(
            "i",
            canonical_url(F.col("url")).alias("c"),
            url_domain(F.col("url")).alias("d"),
        ).collect()
    }
    for i, (_, want_c, want_d) in enumerate(cases):
        assert got[i] == (want_c, want_d), (i, got[i])


def test_pii_scrub_counts_and_order(spark):
    """Counts are taken on the intermediate each replacement ran on:
    a dotted quad is counted once as an IP, never re-counted as two
    phone numbers; tokens never cascade."""
    from m3d_engine_spark.functions.redact import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "a@b.co and c.d+e@f.org.uk wrote"),
            (2, "ip 192.168.001.254 vs phone +44 123 4567"),
            (3, "nothing here"),
        ],
        ["doc_id", "text"],
    )
    r = {x.doc_id: x for x in pii_scrub(df, "doc_id", "text").collect()}
    assert r[1].n_emails == 2 and r[1].scrubbed == "<EMAIL> and <EMAIL> wrote"
    assert (r[2].n_ips, r[2].n_phones) == (1, 1)
    assert r[2].scrubbed == "ip <IP> vs phone <PHONE>"
    assert r[3].scrubbed == "nothing here"


def test_script_census_multilingual(spark):
    """Script counts and dominant-script election on genuinely
    multilingual strings (the parquet testdata is ASCII-only, so the
    oracle entry exercises the latin path — this pins the rest):
    counts are code points not bytes, mixed-script text elects by
    majority with the fixed latin>cyrillic>han>arabic tie-break, and
    scriptless text reports 'none'."""
    from pyspark.sql import functions as F

    from m3d_engine_spark.functions.text import main_script, script_counts

    rows = [
        (1, "hello world"),
        (2, "привет мир"),
        (3, "你好世界"),
        (4, "مرحبا بالعالم"),
        (5, "héllo мир"),       # 5 latin vs 3 cyrillic -> latin
        (6, "код code"),        # 3 cyrillic vs 4 latin -> latin
        (7, "123 !?"),          # digits only -> none
        (8, ""),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    c = script_counts(F.col("t"))
    got = {
        r.id: (r.lat, r.cyr, r.han, r.ara, r.dig, r.main)
        for r in df.select(
            "id",
            c["latin"].alias("lat"),
            c["cyrillic"].alias("cyr"),
            c["han"].alias("han"),
            c["arabic"].alias("ara"),
            c["digit"].alias("dig"),
            main_script(c).alias("main"),
        ).collect()
    }
    assert got[1] == (10, 0, 0, 0, 0, "latin")
    assert got[2] == (0, 9, 0, 0, 0, "cyrillic")
    assert got[3] == (0, 0, 4, 0, 0, "han")
    assert got[4][3] > 0 and got[4][5] == "arabic"
    assert got[5] == (5, 3, 0, 0, 0, "latin")
    assert got[6] == (4, 3, 0, 0, 0, "latin")
    assert got[7] == (0, 0, 0, 0, 3, "none")
    assert got[8] == (0, 0, 0, 0, 0, "none")


def _shingle_array_reference(text, n):
    """shingle_array as it was before ``with_tokens``: the lambda
    captures ``tokens(text)`` and so re-splits the text per shingle."""
    from m3d_engine_spark.functions.text import tokens

    toks = tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def test_shingle_array_matches_reference_and_tokenizes_once(spark):
    from m3d_engine_spark.operators.dedup import shingle_array

    long_doc = " ".join(f"w{i % 37}" for i in range(300))
    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "a"), (4, "a b"),
         (5, "a  b\tc d"), (6, long_doc)],
        "id int, text string",
    )
    for n in (1, 3, 5):
        got = docs.select(
            "id", shingle_array(F.col("text"), n).alias("sh")
        ).orderBy("id").collect()
        want = docs.select(
            "id", _shingle_array_reference(F.col("text"), n).alias("sh")
        ).orderBy("id").collect()
        assert got == want, n
        assert len(got[6].sh) == 300 - n + 1
    plan = (
        docs.select(shingle_array(F.col("text"), 3).alias("sh"))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # One tokenizer split per row: the old lambda-captured token array
    # put one in the plan per reference (and ran it per shingle).
    assert plan.count("split(") == 1, plan
