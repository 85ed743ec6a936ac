"""Unit tests for the relational core queries (inline-frame style mirrors
the reference's mock-based tests, SURVEY.md §5)."""

from __future__ import annotations

import duckdb
import pytest

from variantcalling_spark.queries import all_queries
from variantcalling_spark.sources.tables import TABLES


@pytest.fixture(scope="module")
def duck(sf_dir, tmp_path_factory):
    # spills go to pytest's tmp dir, not the working directory's .tmp/,
    # and stop short of filling the disk. The memory limit stays DuckDB's
    # default share of RAM: q422's oracle fails under a 6 GB cap
    con = duckdb.connect(
        config={
            "temp_directory": str(tmp_path_factory.mktemp("duckdb")),
            "max_temp_directory_size": "8GB",
        }
    )
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def test_registry_nonempty_and_well_formed():
    qs = all_queries()
    assert len(qs) >= 20
    for name, q in qs.items():
        assert q.fn is not None
        assert name == q.name


@pytest.mark.parametrize(
    "name",
    sorted(all_queries().keys()),
)
def test_query_matches_oracle_rowcount(spark, sf_dir, duck, name):
    """Every query runs; SQL-expressible ones match DuckDB's row count at
    smoke scale. (Full value-hash equality is covered by
    tools/check_correctness.py at sf0.01.)"""
    q = all_queries()[name]
    sdf = q.fn(spark, sf_dir)
    n_spark = sdf.count()
    assert n_spark >= 0
    if q.oracle:
        n_duck = len(duck.execute(q.oracle).fetchall())
        assert n_spark == n_duck


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_sql_api_on_registered_views(spark, sf_dir):
    """The SQL API surface: register_views + spark.sql running the
    ANSI oracle strings directly, matching the DataFrame path — a user
    of the reference can paste their SQL at the engine unchanged."""
    from variantcalling_spark.queries import all_queries
    from variantcalling_spark.sources import register_views

    register_views(spark, sf_dir)
    qs = all_queries()
    for name in ("q15_distinct", "q20_value_counts", "q17_set_except",
                 "q03_shipping_priority"):
        via_sql = spark.sql(qs[name].oracle)
        via_df = qs[name].fn(spark, sf_dir)
        assert sorted(via_sql.columns) == sorted(via_df.columns), name
        a = {tuple(r) for r in via_sql.collect()}
        b = {tuple(r) for r in via_df.collect()}
        assert a == b, f"{name}: sql={len(a)} rows, df={len(b)} rows"


def test_domain_mixture_quotas_rebalance(spark, sf_dir):
    """Temperature sampling must upweight rare domains: the smallest
    domain's sampled share must exceed its corpus share, and the largest
    domain's share must shrink; total stays within the 40% budget."""
    from variantcalling_spark.queries.text import q115_domain_mixture_sampling

    picked = q115_domain_mixture_sampling(spark, sf_dir)
    by_dom = {r.domain: r for r in picked.groupBy("domain").count()
              .join(picked.select("domain", "quota").distinct(), "domain")
              .collect()}
    # d1 (rare: 3 docs per 100 ids) vs d9 (head: 19 per 100).
    assert by_dom["d1"].quota * 19 > by_dom["d9"].quota * 3


def test_dsir_weights_separate_target_lang(spark, sf_dir):
    """English (target) docs must receive a higher mean importance
    weight than non-English docs — the whole point of the estimator."""
    from pyspark.sql import functions as F

    from variantcalling_spark.queries.text import q117_dsir_importance_weights
    from variantcalling_spark.sources import load_table

    w = q117_dsir_importance_weights(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    means = dict(
        w.join(langs, "doc_id")
        .groupBy(F.col("lang") == "en")
        .agg(F.avg(F.col("weight") / F.col("n_grams")))
        .collect()
    )
    assert means[True] > means[False]


def test_bm25_ranks_term_dense_docs_first(spark, sf_dir):
    """The top-ranked BM25 doc must actually contain query terms, and
    ranks must be 1..k dense."""
    from pyspark.sql import functions as F

    from variantcalling_spark.queries.text import BM25_TERMS, q116_bm25_topk
    from variantcalling_spark.sources import load_table

    top = q116_bm25_topk(spark, sf_dir).collect()
    assert sorted(r.rank for r in top) == list(range(1, len(top) + 1))
    best = min(top, key=lambda r: r.rank)
    text = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") == best.doc_id)
        .head()
        .text
    )
    assert any(t in text.split() for t in BM25_TERMS)
