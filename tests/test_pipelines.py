"""Integration tests: composed pipelines writing through the keyed
result catalog, plus hand-built trio cases for denovo refinement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from variantcalling_spark.pipelines.coverage import (
    coverage_summary,
    window_binned_depth,
)
from variantcalling_spark.pipelines.denovo import refine_denovo
from variantcalling_spark.pipelines.evaluate_concordance import evaluate_concordance
from variantcalling_spark.pipelines.results import read_result, write_results


@pytest.fixture()
def depth(spark):
    # two contigs, deterministic sawtooth depth over 4000 positions
    return spark.range(0, 4000).select(
        F.when(F.col("id") < 2500, "chr1").otherwise("chr2").alias("chrom"),
        (F.col("id") % 2500).alias("pos"),
        (F.col("id") % 37).cast("int").alias("depth"),
    )


def test_coverage_full_analysis_to_catalog(spark, depth, tmp_path):
    intervals = spark.createDataFrame(
        [
            ("chr1", 0, 1000, "exome"),
            ("chr1", 500, 2500, "LCR"),
            ("chr2", 0, 1500, "exome"),
        ],
        "chrom string, start long, end long, category string",
    )
    summary = coverage_summary(
        depth, intervals, keys=["chrom"], depth_col="depth", pos_col="pos"
    )
    w100 = window_binned_depth(depth, 100, keys=["chrom"])
    w500 = window_binned_depth(depth, 500, keys=["chrom"])
    root = str(tmp_path / "cov")
    write_results(root, {"stats": summary, "w100": w100, "w500": w500})

    stats = {r.category: r for r in read_result(spark, root, "stats").collect()}
    # exome covers chr1[0,1000) + chr2[0,1500): 2500 positions
    assert stats["exome"].n_positions == 2500
    assert stats["LCR"].n_positions == 2000
    for r in stats.values():
        assert 0 <= r.p50 <= 36 and r.p05 <= r.p50 <= r.p95

    # hierarchical consistency (SURVEY §4: windows computable directly):
    # every 500-window mean == count-weighted mean of its five 100-windows
    back100 = read_result(spark, root, "w100")
    from500 = {
        (r.chrom, r.window_id): r.mean_depth
        for r in read_result(spark, root, "w500").collect()
    }
    rolled = (
        back100.groupBy("chrom", (F.col("window_id") * 100 / 500).cast("long").alias("w5"))
        .agg((F.sum(F.col("mean_depth") * F.col("n")) / F.sum("n")).alias("m"))
        .collect()
    )
    for r in rolled:
        assert abs(from500[(r.chrom, r.w5)] - r.m) < 1e-9

    # fractional depths: count and DECIMAL mean from the one histogram
    # equal a plain-pandas per-row computation bit for bit
    from decimal import Decimal

    frac = depth.withColumn("depth", (F.col("pos") % 41) * 0.25 + 0.5)
    got = {
        r.category: r
        for r in coverage_summary(
            frac, intervals, keys=["chrom"], depth_col="depth", pos_col="pos"
        ).collect()
    }
    pdf = frac.toPandas().merge(intervals.toPandas(), on="chrom")
    pdf = pdf[(pdf.pos >= pdf.start) & (pdf.pos < pdf.end)]
    assert set(got) == set(pdf.category)
    for cat, g in pdf.groupby("category"):
        exact = sum(Decimal(f"{d:.2f}") for d in g.depth)
        assert got[cat].n_positions == len(g)
        assert got[cat].mean_depth == float(exact) / len(g)


def test_evaluate_concordance_to_catalog(spark, tmp_path):
    rows = []
    for i in range(200):
        cls = "tp" if i % 3 else ("fp" if i % 5 else "fn")
        rows.append(("snp" if i % 2 else "indel", cls, (i % 97) / 97.0 if i % 7 else None))
    df = spark.createDataFrame(rows, "category string, classify string, score double")
    results = evaluate_concordance(df)
    root = str(tmp_path / "conc")
    write_results(root, results)

    m = {r.category: r for r in read_result(spark, root, "optimal_recall_precision").collect()}
    for cat in ("snp", "indel"):
        r = m[cat]
        assert r.tp + r.fp + r.fn == 100
        assert 0 <= r.precision <= 1 and 0 <= r.recall <= 1
    curve = read_result(spark, root, "recall_precision_curve")
    # cumulative counts are monotone along the threshold sweep
    pdf = curve.orderBy("category", "threshold").toPandas()
    for _, g in pdf.groupby("category"):
        assert g["cum_tp"].is_monotonic_increasing or g["cum_tp"].is_monotonic_decreasing
        assert ((0 <= g["precision"]) & (g["precision"] <= 1)).all()


def test_denovo_refinement_cases(spark):
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "chrom string, pos long, gt1 int, gt2 int, gq double"
    )
    child = mk(
        [
            ("chr1", 100, 0, 1, 50.0),  # denovo: parents hom-ref
            ("chr1", 200, 0, 1, 40.0),  # inherited: mother carries the alt
            ("chr1", 300, 0, 0, 30.0),  # hom-ref child: never denovo
            ("chr1", 400, 1, 1, 60.0),  # missing father -> not callable
        ]
    )
    mother = mk(
        [
            ("chr1", 100, 0, 0, 70.0),
            ("chr1", 200, 0, 1, 45.0),
            ("chr1", 300, 0, 0, 80.0),
            ("chr1", 400, 0, 0, 90.0),
        ]
    )
    father = mk(
        [
            ("chr1", 100, 0, 0, 65.0),
            ("chr1", 200, 0, 0, 55.0),
            ("chr1", 300, 0, 0, 75.0),
        ]
    )
    out = {r.pos: r for r in refine_denovo(child, mother, father).collect()}
    assert out[100].is_denovo and out[100].denovo_qual == 50.0  # min(50,70,65)
    assert not out[200].is_denovo and out[200].denovo_qual is None
    assert not out[300].is_denovo
    assert not out[400].is_denovo  # father absent at the site


def test_results_catalog_upsert_resolution(spark, tmp_path):
    """Merge-on-read upsert: later versions override, tombstones delete,
    snapshot reads see the past, compaction preserves resolution."""
    from variantcalling_spark.pipelines.results import (
        _versions,
        compact_result,
        read_result_latest,
        upsert_result,
    )

    root = str(tmp_path / "catalog")
    mk = ["sample", "metric"]

    v1 = upsert_result(root, "qc", spark.createDataFrame(
        [("s1", "depth", 30.0), ("s2", "depth", 28.0)], mk + ["value"]))
    v2 = upsert_result(root, "qc", spark.createDataFrame(
        [("s1", "depth", 31.5), ("s1", "titv", 2.1)], mk + ["value"]))
    assert (v1, v2) == (1, 2)

    got = {
        (r.sample, r.metric): r.value
        for r in read_result_latest(spark, root, "qc", mk).collect()
    }
    assert got == {("s1", "depth"): 31.5, ("s2", "depth"): 28.0, ("s1", "titv"): 2.1}

    # time travel: snapshot at v1 ignores the later upsert
    old = {
        (r.sample, r.metric): r.value
        for r in read_result_latest(spark, root, "qc", mk, as_of_version=1).collect()
    }
    assert old == {("s1", "depth"): 30.0, ("s2", "depth"): 28.0}

    # tombstone delete
    upsert_result(root, "qc", spark.createDataFrame(
        [("s2", "depth", 0.0)], mk + ["value"]), delete=True)
    got = {
        (r.sample, r.metric) for r in read_result_latest(spark, root, "qc", mk).collect()
    }
    assert got == {("s1", "depth"), ("s1", "titv")}

    # compaction folds the chain and keeps the same resolved rows
    compact_result(spark, root, "qc", mk)
    assert len(_versions(root, "qc")) == 1
    got2 = {
        (r.sample, r.metric): r.value
        for r in read_result_latest(spark, root, "qc", mk).collect()
    }
    assert got2 == {("s1", "depth"): 31.5, ("s1", "titv"): 2.1}


def test_results_catalog_concurrent_writers(spark, tmp_path):
    """Two interleaved upserts to one key must BOTH land (optimistic
    commit): the version slot is claimed with an atomic mkdir, so
    writers that raced from the same observed latest version retry onto
    distinct slots instead of overwriting or erroring out."""
    import threading

    from variantcalling_spark.pipelines.results import (
        _versions,
        read_result_latest,
        upsert_result,
    )

    root = str(tmp_path / "catalog")
    mk = ["sample", "metric"]
    upsert_result(root, "qc", spark.createDataFrame(
        [("s1", "depth", 1.0)], mk + ["value"]))

    # true interleaving: both writers listed versions before either
    # wrote — force it by pre-building the DataFrames, then racing the
    # claim+write from threads sharing one SparkSession
    n_writers = 4
    dfs = [
        spark.createDataFrame([(f"w{i}", "depth", float(i))], mk + ["value"])
        for i in range(n_writers)
    ]
    versions, errors = [None] * n_writers, []
    barrier = threading.Barrier(n_writers)

    def write(i):
        try:
            barrier.wait()
            versions[i] = upsert_result(root, "qc", dfs[i])
        except Exception as exc:  # pragma: no cover - failure diagnostics
            errors.append(exc)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors
    assert sorted(versions) == [2, 3, 4, 5]  # all landed, all distinct
    assert _versions(root, "qc") == [1, 2, 3, 4, 5]
    got = {
        r.sample: r.value
        for r in read_result_latest(spark, root, "qc", mk).collect()
    }
    assert got == {"s1": 1.0, "w0": 0.0, "w1": 1.0, "w2": 2.0, "w3": 3.0}


def test_results_catalog_ignores_uncommitted_claim(spark, tmp_path):
    """Torn-read protection: a version dir that was CLAIMED (mkdir) but
    whose parquet write has not committed (no _SUCCESS marker) must be
    invisible to read_result_latest and left alone by compact_result."""
    import os

    from variantcalling_spark.pipelines.results import (
        compact_result,
        read_result_latest,
        upsert_result,
    )

    root = str(tmp_path)
    mk = ["sample", "metric"]
    upsert_result(root, "qc", spark.createDataFrame(
        [("s1", "depth", 30.0)], ["sample", "metric", "value"]))
    # simulate an in-flight writer: claimed slot, partial file, no _SUCCESS
    torn = os.path.join(root, "qc", "v=2")
    os.mkdir(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1 garbage: not a complete footer")
    got = {(r.sample, r.metric, r.value)
           for r in read_result_latest(spark, root, "qc", mk).collect()}
    assert got == {("s1", "depth", 30.0)}
    # compaction folds committed versions but leaves the in-flight claim
    compact_result(spark, root, "qc", mk)
    assert os.path.isdir(torn)
    got2 = {(r.sample, r.metric, r.value)
            for r in read_result_latest(spark, root, "qc", mk).collect()}
    assert got2 == got


def test_isotonic_calibration_monotone(spark):
    """The fitted curve must be monotone nondecreasing in score and
    preserve the global positive mass (PAV pools, never re-weights)."""
    from variantcalling_spark.queries import all_queries

    q = all_queries()["q222_isotonic_calibration"]
    rows = sorted(
        q.fn(spark, "/root/testdata/sf0.001").collect(), key=lambda r: r.score
    )
    fitted = [r.fitted_rate for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(fitted, fitted[1:]))
    mass_fit = sum(r.fitted_rate * r.n for r in rows)
    mass_raw = sum(r.n_pos for r in rows)
    assert abs(mass_fit - mass_raw) / mass_raw < 1e-9


def test_catalog_diff_versions(spark, tmp_path):
    """diff_versions classifies every merge key across two snapshots:
    rows upserted after v_old are added/changed, tombstoned keys are
    removed, untouched keys are unchanged — and the diff of a snapshot
    against itself is all-unchanged."""
    from pyspark.sql import functions as F

    from variantcalling_spark.pipelines.results import (
        diff_versions,
        upsert_result,
    )

    root = str(tmp_path / "cat")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    v1 = upsert_result(root, "t", base)
    v2 = upsert_result(
        root, "t", spark.createDataFrame([(2, "B"), (4, "d")], "id long, val string")
    )
    v3 = upsert_result(
        root, "t",
        spark.createDataFrame([(3, "c")], "id long, val string"),
        delete=True,
    )
    d = {
        r.id: r.change
        for r in diff_versions(spark, root, "t", ["id"], v1, v3).collect()
    }
    assert d == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    same = diff_versions(spark, root, "t", ["id"], v3, v3)
    assert {r.change for r in same.collect()} == {"unchanged"}
