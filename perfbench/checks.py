"""Per-seed expectations and per-iteration output checks.

Expectations are computed once per seed, outside every timed region, with
DuckDB and plain Python/NumPy (never through the Spark package under test):
from the VCF and BED files for the confusion counts and curve (cross-checked
against the planted counts), and from the generator's planted per-base
depth, gVCF records and documents for the other pipelines. ``check_*`` compares one iteration's collected outputs with
the expectation and returns a list of failure messages (empty = correct).
A failed check counts as a failed iteration; nothing is ever dropped.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

from gen import (
    BIN_WINDOW,
    JACCARD_THRESHOLD,
    MERGE_GQ_THRESHOLD,
    REFCALL_GQ_THRESHOLD,
    Inputs,
)

QUANTILES = (0.05, 0.25, 0.5, 0.75, 0.95)
# planted near-duplicate pairs LSH (8 bands x 4 rows) must still find;
# stated in BENCHMARK.json
PLANTED_RECALL_FLOOR = 0.9
REL_TOL = 1e-12


def _frames_equal(name: str, got: pd.DataFrame, exp: pd.DataFrame, keys: list[str]) -> list[str]:
    """Row-set equality: integer/string columns exact, float columns to
    ``REL_TOL``, NULLs matched positionally after sorting on ``keys``."""
    if len(got) != len(exp):
        return [f"{name}: {len(got)} rows, expected {len(exp)}"]
    got = got[list(exp.columns)].sort_values(keys).reset_index(drop=True)
    exp = exp.sort_values(keys).reset_index(drop=True)
    errs = []
    for c in exp.columns:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(e) or pd.api.types.is_float_dtype(g):
            gv, ev = g.to_numpy(dtype=float), e.to_numpy(dtype=float)
            same_nan = np.isnan(gv) == np.isnan(ev)
            close = np.isclose(gv, ev, rtol=REL_TOL, atol=0.0) | (np.isnan(gv) & np.isnan(ev))
            bad = int(np.count_nonzero(~(same_nan & close)))
        else:
            bad = sum(1 for a, b in zip(g.tolist(), e.tolist()) if _norm(a) != _norm(b))
        if bad:
            errs.append(f"{name}.{c}: {bad} of {len(exp)} rows differ")
    return errs


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(int(x) for x in v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    return v


# ---- germline_eval -------------------------------------------------------


def _read_vcf_plain(path: str) -> pd.DataFrame:
    rows = []
    with open(path) as fh:
        for line in fh:
            if line.startswith("#"):
                continue
            f = line.rstrip("\n").split("\t")
            info = dict(kv.split("=", 1) for kv in f[7].split(";"))
            if info.get("CALL") == "TP":
                cls = "tp"
            elif info.get("CALL") == "FP":
                cls = "fp"
            else:
                cls = "fn"
            score = float(info["TREE_SCORE"]) if "TREE_SCORE" in info else None
            rows.append((f[0], int(f[1]), cls, score))
    return pd.DataFrame(rows, columns=["chrom", "pos", "classify", "score"])


def _read_bed_plain(path: str) -> pd.DataFrame:
    with open(path) as fh:
        rows = [
            line.rstrip("\n").split("\t")
            for line in fh
            if not line.startswith(("#", "track", "browser"))
        ]
    bed = pd.DataFrame(rows, columns=["chrom", "start", "end", "category"])
    return bed.astype({"start": "int64", "end": "int64"})


def expect_germline(inp: Inputs) -> dict:
    con = duckdb.connect()
    con.register("vcf", _read_vcf_plain(inp.files["vcf"]))
    con.register("bed", _read_bed_plain(inp.files["bed"]))
    con.execute(
        """CREATE TABLE ann AS
        SELECT b.category, v.classify, coalesce(v.score, 1.0) AS score
        FROM vcf v JOIN bed b ON v.chrom = b.chrom AND v.pos >= b.start AND v.pos < b."end" """
    )
    metrics = con.sql(
        """SELECT category,
             count(*) FILTER (WHERE classify = 'tp') AS tp,
             count(*) FILTER (WHERE classify = 'fp') AS fp,
             count(*) FILTER (WHERE classify = 'fn') AS fn
           FROM ann GROUP BY category"""
    ).df()
    for r in metrics.itertuples(index=False):
        planted = inp.truth["confusion"][r.category]
        if (r.tp, r.fp, r.fn) != (planted["tp"], planted["fp"], planted["fn"]):
            raise RuntimeError(f"expectation disagrees with planted truth for {r.category}")
    tp, fp, fn = (metrics[c].astype(float) for c in ("tp", "fp", "fn"))
    metrics["precision"] = tp / (tp + fp)
    metrics["recall"] = tp / (tp + fn)
    metrics["f1"] = 2 * metrics["precision"] * metrics["recall"] / (
        metrics["precision"] + metrics["recall"]
    )
    curve = con.sql(
        """WITH per AS (
             SELECT category, score AS threshold,
                    count(*) FILTER (WHERE classify = 'tp') AS n_tp,
                    count(*) FILTER (WHERE classify = 'fp') AS n_fp
             FROM ann GROUP BY category, score),
           cum AS (
             SELECT category, threshold,
               sum(n_tp) OVER (PARTITION BY category ORDER BY threshold DESC) AS cum_tp,
               sum(n_fp) OVER (PARTITION BY category ORDER BY threshold DESC) AS cum_fp,
               sum(n_tp) OVER (PARTITION BY category) AS tot_tp
             FROM per)
           SELECT category, threshold, cum_tp::BIGINT AS cum_tp, cum_fp::BIGINT AS cum_fp,
                  (tot_tp - cum_tp)::BIGINT AS cum_fn,
                  CASE WHEN cum_tp + cum_fp > 0 THEN cum_tp / (cum_tp + cum_fp)::DOUBLE END AS precision,
                  CASE WHEN tot_tp > 0 THEN cum_tp / tot_tp::DOUBLE END AS recall
           FROM cum"""
    ).df()
    con.close()
    return {"metrics": metrics, "curve": curve}


def check_germline(exp: dict, out: dict) -> list[str]:
    errs = _frames_equal("confusion", out["metrics"], exp["metrics"], ["category"])
    cols = ["category", "threshold", "cum_tp", "cum_fp", "cum_fn", "precision", "recall"]
    return errs + _frames_equal(
        "pr_curve", out["curve"][cols], exp["curve"][cols], ["category", "threshold"]
    )


# ---- coverage_qc ---------------------------------------------------------


def expect_coverage(inp: Inputs) -> dict:
    frames = []
    for chrom, d in inp.truth["depth"].items():
        pos = np.flatnonzero(d > 0)
        frames.append(pd.DataFrame({"chrom": chrom, "pos": pos, "depth": d[pos]}))
    depth = pd.concat(frames, ignore_index=True)
    con = duckdb.connect()
    con.register("depth", depth)
    con.register("bed", _read_bed_plain(inp.files["bed"]))
    ann = con.sql(
        """SELECT b.category, d.depth FROM depth d JOIN bed b
           ON d.chrom = b.chrom AND d.pos >= b.start AND d.pos < b."end" """
    ).df()
    rows = []
    for cat, g in ann.groupby("category"):
        vals = np.sort(g["depth"].to_numpy())
        n = len(vals)
        row = {"category": cat, "n_positions": n, "mean_depth": float(vals.sum()) / n}
        for q in QUANTILES:
            # histogram-CDF percentile: smallest value whose CDF >= ceil(q*n)
            row[f"p{int(round(q * 100)):02d}"] = int(vals[max(math.ceil(q * n), 1) - 1])
        rows.append(row)
    summary = pd.DataFrame(rows)
    bins = con.sql(
        f"""SELECT chrom, pos // {BIN_WINDOW} AS window_id, count(*) AS n,
                   sum(depth)::DOUBLE / count(*) AS mean_depth,
                   min(pos) AS win_start, max(pos) AS win_end
            FROM depth GROUP BY ALL"""
    ).df()
    con.close()
    return {"summary": summary, "bins": bins}


def check_coverage(exp: dict, out: dict) -> list[str]:
    return _frames_equal("coverage_summary", out["summary"], exp["summary"], ["category"]) + (
        _frames_equal("window_bins", out["bins"], exp["bins"], ["chrom", "window_id"])
    )


# ---- gvcf_archive --------------------------------------------------------


def _reference_blocks(frame: pd.DataFrame) -> pd.DataFrame:
    """Independent plain-Python gVCF block merge (the documented rule:
    RefCall records with GQ >= the refcall threshold merge while the
    block's GQ spread stays under the merge threshold)."""
    out = []
    for chrom, g in frame.groupby("chrom", sort=True):
        g = g.sort_values(["pos", "stop", "gq"], kind="mergesort")
        blk = None
        for pos, stop, flt, gq, min_dp, dp, pl in zip(
            g["pos"], g["stop"], g["filter"], g["gq"], g["min_dp"], g["dp"], g["pl"]
        ):
            dp_eff = int(dp) if min_dp is pd.NA else int(min_dp)
            pl = [int(x) for x in pl]
            if flt != "RefCall" or gq < REFCALL_GQ_THRESHOLD:
                if blk:
                    out.append(blk)
                    blk = None
                out.append([chrom, pos, stop, gq, gq, dp_eff, pl, 1, flt == "PASS"])
                continue
            if blk and max(blk[4], gq) - min(blk[3], gq) < MERGE_GQ_THRESHOLD:
                blk[2] = max(blk[2], stop)
                blk[3], blk[4] = min(blk[3], gq), max(blk[4], gq)
                blk[5] = min(blk[5], dp_eff)
                blk[6] = [min(a, b) for a, b in zip(blk[6], pl)]
                blk[7] += 1
                continue
            if blk:
                out.append(blk)
            blk = [chrom, pos, stop, gq, gq, dp_eff, pl, 1, False]
        if blk:
            out.append(blk)
    df = pd.DataFrame(
        out, columns=["chrom", "pos", "stop", "gq", "max_gq", "min_dp", "pl", "n_merged", "is_variant"]
    )
    return df.drop(columns=["max_gq"])


def expect_gvcf(inp: Inputs) -> dict:
    frame = inp.truth["frame"]
    blocks = _reference_blocks(frame)
    if int(blocks["n_merged"].sum()) != inp.truth["records"]:
        raise RuntimeError("reference block merge lost records")
    by_chrom = {
        c: (g["pos"].to_numpy(), g["gq"].to_numpy())
        for c, g in frame.sort_values(["chrom", "pos"]).groupby("chrom")
    }
    return {"blocks": blocks, "records": inp.truth["records"], "by_chrom": by_chrom}


def _count_lines(text_dir: str) -> int:
    n = 0
    for name in os.listdir(text_dir):
        if name.startswith("part-"):
            with open(os.path.join(text_dir, name), "rb") as fh:
                n += sum(1 for _ in fh)
    return n


def check_gvcf(exp: dict, out: dict) -> list[str]:
    got = out["blocks"]
    errs = []
    if int(got["n_merged"].sum()) != exp["records"]:
        errs.append(f"sum(n_merged) = {int(got['n_merged'].sum())}, expected {exp['records']}")
    for chrom, g in got[got["n_merged"] > 1].groupby("chrom"):
        pos, gq = exp["by_chrom"][chrom]
        lo = np.searchsorted(pos, g["pos"].to_numpy(), side="left")
        hi = np.searchsorted(pos, g["stop"].to_numpy(), side="right")
        spread = [int(gq[a:b].max() - gq[a:b].min()) for a, b in zip(lo, hi)]
        if max(spread) >= MERGE_GQ_THRESHOLD:
            errs.append(f"{chrom}: a merged block has GQ spread {max(spread)}")
    n_lines = _count_lines(out["vcf_dir"])
    if n_lines != len(exp["blocks"]):
        errs.append(f"VCF text has {n_lines} lines, expected {len(exp['blocks'])}")
    return errs + _frames_equal("blocks", got, exp["blocks"], ["chrom", "pos"])


# ---- neardup_curation ----------------------------------------------------


def _shingle_set(text: str, n: int = 3) -> frozenset:
    ws = text.split(" ")
    return frozenset(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))


def expect_neardup(inp: Inputs) -> dict:
    sets = [_shingle_set(t) for t in inp.truth["texts"]]
    planted = set(inp.truth["planted"])
    for a, b in planted:
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j < JACCARD_THRESHOLD:
            raise RuntimeError(f"planted pair {(a, b)} has Jaccard {j:.3f}")
    return {"sets": sets, "planted": planted}


def planted_recall(exp: dict, pairs: pd.DataFrame) -> float:
    found = set(zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()))
    return len(found & exp["planted"]) / len(exp["planted"])


def check_neardup(exp: dict, out: dict) -> list[str]:
    pairs, sets = out["pairs"], exp["sets"]
    errs = []
    bad = 0
    for a, b, j in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]):
        sa, sb = sets[a], sets[b]
        exact = len(sa & sb) / len(sa | sb)
        if exact < JACCARD_THRESHOLD or not math.isclose(exact, j, rel_tol=REL_TOL):
            bad += 1
    if bad:
        errs.append(f"{bad} verified pairs fail the exact-Jaccard check")
    rec = planted_recall(exp, pairs)
    if rec < PLANTED_RECALL_FLOOR:
        errs.append(f"planted recall {rec:.3f} < floor {PLANTED_RECALL_FLOOR}")
    return errs


EXPECT = {
    "germline_eval": expect_germline,
    "coverage_qc": expect_coverage,
    "gvcf_archive": expect_gvcf,
    "neardup_curation": expect_neardup,
}
CHECK = {
    "germline_eval": check_germline,
    "coverage_qc": check_coverage,
    "gvcf_archive": check_gvcf,
    "neardup_curation": check_neardup,
}
