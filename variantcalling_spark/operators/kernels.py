"""Ordered stateful kernels via ``applyInPandas`` (SURVEY.md §2.5, §4).

Two operators in the reference are genuinely path-dependent sequential
scans — their break conditions depend on running state, so they are not
expressible as fixed windows:

- gVCF block merge (`ugvc/joint/compress_gvcf.py:81-216`; pinned
  4438 -> 1184 records, `test/unit/joint/test_compress_gvcf.py:5-11`)
- overlap-buffer filter (`ugvc/joint/cleanup_gvcf_before_calling.py:
  11-86`; pinned 93620 written / 17 removed,
  `test_cleanup_gvcf_before_joint.py:8-13`)

Spark strategy: partition by contig, sort within partition by position,
run the sequential kernel per contig group with ``applyInPandas``
(Arrow-batched). Contigs are independent in the reference too (its
per-chromosome joblib sharding), so this is deterministic AND parallel:
at 100 TB the unit of sequential work stays one contig, never the table.
The kernels below are new implementations of the *documented semantics* —
blocks merge while the running GQ spread stays under a threshold and
break on contig change / non-mergeable records.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GVCF_BLOCK_SCHEMA = (
    "chrom string, pos long, stop long, gq int, min_dp int, "
    "pl array<int>, n_merged int, is_variant boolean"
)


def compress_gvcf_blocks(
    df: DataFrame,
    refcall_gq_threshold: int = 22,
    merge_gq_threshold: int = 10,
) -> DataFrame:
    """Merge consecutive reference-call records into gVCF-style blocks.

    Semantics (per contig, position order):
    - PASS (variant) records are emitted unmerged and flush any open block.
    - RefCall records with GQ < ``refcall_gq_threshold`` are low-confidence:
      emitted unmerged, flush the open block.
    - Other RefCall records accumulate into the current block while the
      running spread max(GQ) - min(GQ) (including the candidate) stays
      < ``merge_gq_threshold``; otherwise the block flushes and a new one
      starts at the candidate.
    - A flushed block takes: first pos, last stop, min GQ,
      min(coalesce(min_dp, dp)), elementwise-min of the 3-compressed PLs,
      and n_merged.

    Input columns: chrom, pos, stop, filter, gq, min_dp, dp, pl
    (pl already 3-compressed — see ``functions.genotypes.pl_compress3``).
    """

    def per_contig(pdf: pd.DataFrame) -> pd.DataFrame:
        # secondary keys make the scan deterministic under position ties
        pdf = pdf.sort_values(["pos", "stop", "gq"], kind="mergesort")
        out: list[tuple] = []
        chrom = pdf["chrom"].iloc[0] if len(pdf) else None

        blk: dict | None = None

        def flush():
            nonlocal blk
            if blk is not None:
                out.append(
                    (
                        chrom,
                        blk["pos"],
                        blk["stop"],
                        int(blk["min_gq"]),
                        int(blk["min_dp"]) if blk["min_dp"] is not None else None,
                        blk["pl"],
                        blk["n"],
                        False,
                    )
                )
                blk = None

        for row in pdf.itertuples(index=False):
            gq = row.gq
            dp_eff = row.min_dp if row.min_dp is not None and not pd.isna(row.min_dp) else row.dp
            pl = list(row.pl) if row.pl is not None else None
            mergeable = row.filter == "RefCall" and gq >= refcall_gq_threshold
            if not mergeable:
                flush()
                out.append(
                    (
                        chrom,
                        row.pos,
                        row.stop,
                        int(gq),
                        int(dp_eff) if dp_eff is not None and not pd.isna(dp_eff) else None,
                        pl,
                        1,
                        row.filter == "PASS",
                    )
                )
                continue
            if blk is None:
                blk = {
                    "pos": row.pos,
                    "stop": row.stop,
                    "min_gq": gq,
                    "max_gq": gq,
                    "min_dp": dp_eff,
                    "pl": pl,
                    "n": 1,
                }
                continue
            new_min = min(blk["min_gq"], gq)
            new_max = max(blk["max_gq"], gq)
            if new_max - new_min < merge_gq_threshold:
                blk["stop"] = max(blk["stop"], row.stop)
                blk["min_gq"], blk["max_gq"] = new_min, new_max
                if dp_eff is not None and (blk["min_dp"] is None or dp_eff < blk["min_dp"]):
                    blk["min_dp"] = dp_eff
                if pl is not None and blk["pl"] is not None:
                    blk["pl"] = [min(a, b) for a, b in zip(blk["pl"], pl)]
                elif blk["pl"] is None:
                    blk["pl"] = pl
                blk["n"] += 1
            else:
                flush()
                blk = {
                    "pos": row.pos,
                    "stop": row.stop,
                    "min_gq": gq,
                    "max_gq": gq,
                    "min_dp": dp_eff,
                    "pl": pl,
                    "n": 1,
                }
        flush()
        return pd.DataFrame(
            out,
            columns=[
                "chrom",
                "pos",
                "stop",
                "gq",
                "min_dp",
                "pl",
                "n_merged",
                "is_variant",
            ],
        )

    return df.repartition("chrom").groupBy("chrom").applyInPandas(
        per_contig, schema=GVCF_BLOCK_SCHEMA
    )


OVERLAP_FILTER_SCHEMA = (
    "chrom string, pos long, stop long, is_null_gt boolean, kept boolean"
)


def overlap_buffer_filter(df: DataFrame) -> DataFrame:
    """Drop null-genotype records overlapped by an earlier deletion span.

    Re-expresses `cleanup_gvcf_before_calling.py:11-86`: walking each
    contig in position order with a running deletion extent; a record
    whose GT is the null pair and whose pos falls inside the running
    extent of an earlier called deletion is removed; everything else is
    kept (pinned 17-of-93620 removal shape).

    Input columns: chrom, pos, stop, is_deletion (bool), is_null_gt (bool).
    Output adds ``kept``.
    """

    def per_contig(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["pos", "stop"], kind="mergesort").reset_index(drop=True)
        run_del_end = -np.inf
        kept = np.ones(len(pdf), dtype=bool)
        # two-phase per position: the running extent grows only from
        # deletions at STRICTLY earlier positions (tie-safe, so the scan
        # is deterministic and equivalent to an EXISTS(d.pos < r.pos) join)
        pos_vals = pdf["pos"].to_numpy()
        stop_vals = pdf["stop"].to_numpy()
        null_gt = pdf["is_null_gt"].to_numpy()
        is_del = pdf["is_deletion"].to_numpy()
        i = 0
        n = len(pdf)
        while i < n:
            j = i
            while j < n and pos_vals[j] == pos_vals[i]:
                j += 1
            for r in range(i, j):
                if null_gt[r] and pos_vals[r] <= run_del_end:
                    kept[r] = False
            for r in range(i, j):
                if is_del[r]:
                    run_del_end = max(run_del_end, stop_vals[r])
            i = j
        out = pdf[["chrom", "pos", "stop", "is_null_gt"]].copy()
        out["kept"] = kept
        return out

    return df.repartition("chrom").groupBy("chrom").applyInPandas(
        per_contig, schema=OVERLAP_FILTER_SCHEMA
    )


PACKING_SCHEMA = "shard int, doc_id long, n_tokens int, bin_id int"


def greedy_pack_documents(df: DataFrame, capacity: int) -> DataFrame:
    """First-fit sequential packing of whole documents into
    fixed-capacity context windows, per shard.

    Input: (shard, doc_id, n_tokens). Within each shard documents are
    visited in doc_id order; a document opens a new bin when it does not
    fit in the current one (docs larger than ``capacity`` get a bin of
    their own). Path-dependent running state — the same irreducibly
    sequential class as the gVCF block merge — so it runs as an
    ``applyInPandas`` kernel per shard: sequential within a shard,
    parallel across shards (the 100 TB layout: shard = hash of a stable
    key; only a single shard's doc list is ever held in one task).
    """
    import pandas as pd

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, used, cur = [], 0, 0
        for n in pdf["n_tokens"]:
            if bins and used + n <= capacity:
                used += n
            else:
                cur = cur + 1 if bins else 0
                used = n
            bins.append(cur)
        pdf["bin_id"] = pd.array(bins, dtype="int32")
        return pdf[["shard", "doc_id", "n_tokens", "bin_id"]]

    return df.repartition("shard").groupBy("shard").applyInPandas(
        per_shard, schema=PACKING_SCHEMA
    )


from variantcalling_spark._serde import register_module_by_value

register_module_by_value(__name__)


def apply_bpe_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE ENCODING: apply an ordered merge list (the output of the
    q126 mining loop, lowest index = highest priority) to every word —
    the tokenizer-application half of BPE, closing the induction loop.

    Each word starts as characters; repeatedly the highest-priority
    adjacent pair present is selected and ALL its non-overlapping
    occurrences are merged left-to-right in one pass, until no listed
    pair remains — the GPT-2/HF reference BPE encode semantics (a
    one-occurrence-per-step variant can diverge when a merge creates a
    higher-priority pair overlapping a remaining occurrence; pinned in
    tests/test_kernels.py).
    Inherently iterative-per-word (the merge chosen at step k depends
    on step k-1's symbol sequence), so this is an Arrow-batched
    ``mapInPandas`` kernel, not an expression; the merge table is tiny
    (vocab-sized) and ships inside the closure like a broadcast.
    Returns (doc_id, n_words, n_tokens, tokens) where tokens is the
    space-joined per-word symbol stream with '|' between words.
    """
    prio = {pair: i for i, pair in enumerate(merges)}

    def encode_word(w: str) -> list[str]:
        syms = list(w)
        while len(syms) >= 2:
            best = None
            for i in range(len(syms) - 1):
                p = prio.get((syms[i], syms[i + 1]))
                if p is not None and (best is None or p < best):
                    best = p
            if best is None:
                break
            u, v = merges[best]
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == u and syms[i + 1] == v:
                    out.append(u + v)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def run(batches):
        for pdf in batches:
            ids, nw, nt, toks = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in str(text).split(" ") if w]
                enc = [encode_word(w) for w in words]
                ids.append(doc_id)
                nw.append(len(words))
                nt.append(sum(len(e) for e in enc))
                toks.append("|".join(" ".join(e) for e in enc))
            yield pd.DataFrame(
                {
                    # keep the caller's id dtype — Arrow casts to the
                    # schema derived from the input column below
                    id_col: pd.array(ids, dtype="object"),
                    "n_words": pd.array(nw, dtype="int32"),
                    "n_tokens": pd.array(nt, dtype="int32"),
                    "tokens": pd.array(toks, dtype="object"),
                }
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        run,
        schema=f"{id_col} {id_type}, n_words int, n_tokens int, tokens string",
    )


def nw_align_scores(
    pairs: DataFrame,
    match: int = 2,
    mismatch: int = -1,
    gap: int = -2,
    id_col: str = "pair_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Pairwise NEEDLEMAN-WUNSCH global alignment score (linear gap
    penalty) — the alignment primitive under haplotype comparison and
    read-to-reference scoring (the reference shells out to aligners /
    vcfeval for this; `flow_based_read.py` and the concordance replay
    family consume alignment-equivalence downstream).

    Arrow-batched ``mapInPandas`` kernel: per pair an O(n*m) DP with
    per-ROW numpy vectorization — the within-row left-gap chain
    cur[j] = max(tmp[j], cur[j-1]+gap) is solved closed-form as a
    running max of tmp[j] - gap*j (np.maximum.accumulate), so no
    per-cell Python loop survives. Integer arithmetic throughout:
    bit-exact on any engine/partitioning. The DuckDB oracle replays
    the identical DP as a WAVEFRONT (anti-diagonal) recursive CTE —
    each diagonal is a pure map over the two previous diagonals
    (see queries/genomics.py::q219) — pinning every cell's recurrence,
    not just the final score.

    Scale shape: pairs partition freely (each row is independent);
    state per pair is two DP rows, O(min-side) memory.
    """
    import numpy as np

    out_schema = (
        f"{id_col} bigint, n int, m int, nw_score int, norm_score double"
    )

    def run(batches):
        for pdf in batches:
            ids, ns, ms, scores, norms = [], [], [], [], []
            for pid, a, b in zip(pdf[id_col], pdf[a_col], pdf[b_col]):
                a = "" if a is None else str(a)
                b = "" if b is None else str(b)
                n, m = len(a), len(b)
                # utf-32-le -> one uint32 per code point: arbitrary text
                # is safe (latin1 raised UnicodeEncodeError on any char
                # > U+00FF and killed the executor task); the DP only
                # needs element-wise ==, which is unchanged
                av = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
                bv = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
                prev = gap * np.arange(m + 1, dtype=np.int64)
                j_idx = np.arange(m + 1, dtype=np.int64)
                for i in range(1, n + 1):
                    s_vec = np.where(av[i - 1] == bv, match, mismatch).astype(
                        np.int64
                    ) if m else np.empty(0, dtype=np.int64)
                    tmp = np.maximum(prev[:-1] + s_vec, prev[1:] + gap) if m else prev[1:]
                    g = np.empty(m + 1, dtype=np.int64)
                    g[0] = gap * i
                    if m:
                        g[1:] = tmp - gap * j_idx[1:]
                    acc = np.maximum.accumulate(g)
                    prev = acc + gap * j_idx
                score = int(prev[-1])
                ids.append(pid)
                ns.append(n)
                ms.append(m)
                scores.append(score)
                norms.append(round(score / float(max(n, m, 1)), 6))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "n": pd.array(ns, dtype="int32"),
                    "m": pd.array(ms, dtype="int32"),
                    "nw_score": pd.array(scores, dtype="int32"),
                    "norm_score": pd.array(norms, dtype="float64"),
                }
            )

    return pairs.select(id_col, a_col, b_col).mapInPandas(run, schema=out_schema)


def sw_align_scores(
    pairs: DataFrame,
    match: int = 2,
    mismatch: int = -1,
    gap: int = -2,
    id_col: str = "pair_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """SMITH-WATERMAN local alignment score — ``nw_align_scores``'s
    local twin: cells clamp at 0 (an alignment may start anywhere) and
    the score is the MAX over all cells (it may end anywhere). Same
    vectorized row recurrence with the running-max closed form for the
    left-gap chain, same wavefront recursive-CTE oracle shape
    (queries/genomics.py::q247) with GREATEST(0, ...) per cell and a
    best-so-far fold carried through the recursion."""
    import numpy as np

    out_schema = f"{id_col} bigint, n int, m int, sw_score int"

    def run(batches):
        for pdf in batches:
            ids, ns, ms, scores = [], [], [], []
            for pid, a, b in zip(pdf[id_col], pdf[a_col], pdf[b_col]):
                a = "" if a is None else str(a)
                b = "" if b is None else str(b)
                n, m = len(a), len(b)
                # utf-32-le -> one uint32 per code point: arbitrary text
                # is safe (latin1 raised UnicodeEncodeError on any char
                # > U+00FF and killed the executor task); the DP only
                # needs element-wise ==, which is unchanged
                av = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
                bv = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
                prev = np.zeros(m + 1, dtype=np.int64)
                j_idx = np.arange(m + 1, dtype=np.int64)
                best = 0
                for i in range(1, n + 1):
                    if m:
                        s_vec = np.where(av[i - 1] == bv, match, mismatch).astype(
                            np.int64
                        )
                        tmp = np.maximum(prev[:-1] + s_vec, prev[1:] + gap)
                    else:
                        tmp = prev[1:]
                    g = np.empty(m + 1, dtype=np.int64)
                    g[0] = 0
                    if m:
                        g[1:] = tmp - gap * j_idx[1:]
                    acc = np.maximum.accumulate(g)
                    cur = np.maximum(acc + gap * j_idx, 0)
                    cur[0] = 0
                    if m:
                        best = max(best, int(cur.max()))
                    prev = cur
                ids.append(pid)
                ns.append(n)
                ms.append(m)
                scores.append(best)
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "n": pd.array(ns, dtype="int32"),
                    "m": pd.array(ms, dtype="int32"),
                    "sw_score": pd.array(scores, dtype="int32"),
                }
            )

    return pairs.select(id_col, a_col, b_col).mapInPandas(run, schema=out_schema)


def holt_linear_smooth(
    df: DataFrame,
    key_col: str = "series",
    t_col: str = "t",
    val_col: str = "m",
    alpha: float = 0.4,
    beta: float = 0.2,
    horizon: int = 7,
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per series: the
    level/trend recursion l_t = a*m_t + (1-a)*(l_{t-1}+b_{t-1}),
    b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}, initialized l_1 = m_1,
    b_1 = m_2 - m_1, plus the h-step-ahead forecast l_T + h*b_T.

    The recursion is inherently sequential PER SERIES but series are
    independent — the textbook ``applyInPandas`` shape: Spark hash-
    partitions by key, each group runs a bounded left-to-right scan.
    Arithmetic is plain float64 with the exact expression shapes a
    recursive-CTE replay uses (same multiply/add order), so a SQL
    oracle reproduces the walk bit-for-bit without intermediate
    rounding. Returns one row per series: (key, n_obs, level, trend,
    forecast).
    """
    import pandas as pd  # noqa: F811 (module-level import exists)

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col, kind="mergesort")
        vals = pdf[val_col].to_numpy(dtype="float64")
        key = pdf[key_col].iloc[0]
        n = len(vals)
        if n < 2:
            return pd.DataFrame(
                {
                    key_col: [key],
                    "n_obs": [n],
                    "level": [float(vals[0]) if n else None],
                    "trend": [0.0],
                    "forecast": [float(vals[0]) if n else None],
                }
            )
        level = float(vals[0])
        trend = float(vals[1]) - float(vals[0])
        for t in range(1, n):
            new_level = alpha * float(vals[t]) + (1.0 - alpha) * (level + trend)
            trend = beta * (new_level - level) + (1.0 - beta) * trend
            level = new_level
        return pd.DataFrame(
            {
                key_col: [key],
                "n_obs": [n],
                "level": [level],
                "trend": [trend],
                "forecast": [level + horizon * trend],
            }
        )

    return df.groupBy(key_col).applyInPandas(
        per_series,
        schema=f"{key_col} string, n_obs long, level double, trend double, forecast double",
    )


DTW_BIG = 10**15  # boundary sentinel: far above any path cost, no overflow


def dtw_pair_distances(
    pairs: DataFrame,
    ka_col: str = "ea",
    kb_col: str = "eb",
    a_col: str = "xa",
    b_col: str = "xb",
) -> DataFrame:
    """DYNAMIC TIME WARPING distance between integer-valued series
    pairs: D[i][j] = |xa_i - xb_j| + min(D[i-1][j], D[i][j-1],
    D[i-1][j-1]), boundaries +inf except D[0][0] = 0 — the elastic
    alignment distance for time series (the numeric sibling of the
    q219/q247 string DPs; series pre-quantized to integer units so the
    whole DP is bit-exact on any engine).

    Arrow-batched ``mapInPandas``; pairs are independent rows; state
    is two DP rows. The within-row left dependency (cur[j-1]) has no
    running-max closed form once positive costs are added, so the
    inner loop is per-cell — acceptable because inputs are
    CALENDAR-BOUNDED series (the caller aggregates to a daily grid),
    not corpus-sized sequences. The DuckDB oracle replays the DP as a
    wavefront recursive CTE (anti-diagonals), pinning every cell."""

    out_schema = (
        f"{ka_col} string, {kb_col} string, n_a bigint, n_b bigint, "
        "dtw_micro bigint"
    )

    def run(batches):
        for pdf in batches:
            kas, kbs, ns, ms, ds = [], [], [], [], []
            for ka, kb, xa, xb in zip(
                pdf[ka_col], pdf[kb_col], pdf[a_col], pdf[b_col]
            ):
                a = [int(v) for v in xa]
                b = [int(v) for v in xb]
                n, m = len(a), len(b)
                prev = [0] + [DTW_BIG] * m
                for i in range(1, n + 1):
                    cur = [DTW_BIG] * (m + 1)
                    ai = a[i - 1]
                    for j in range(1, m + 1):
                        best = prev[j - 1]
                        if prev[j] < best:
                            best = prev[j]
                        if cur[j - 1] < best:
                            best = cur[j - 1]
                        cur[j] = abs(ai - b[j - 1]) + best
                    prev = cur
                kas.append(ka)
                kbs.append(kb)
                ns.append(n)
                ms.append(m)
                ds.append(prev[m])
            yield pd.DataFrame(
                {
                    ka_col: kas,
                    kb_col: kbs,
                    "n_a": pd.array(ns, dtype="int64"),
                    "n_b": pd.array(ms, dtype="int64"),
                    "dtw_micro": pd.array(ds, dtype="int64"),
                }
            )

    return pairs.select(ka_col, kb_col, a_col, b_col).mapInPandas(
        run, schema=out_schema
    )


def viterbi_decode_2state(
    df: DataFrame,
    emit_match: int,
    emit_miss: int,
    t_stay: int,
    t_switch: int,
    init: int,
    key_col: str = "series",
    t_col: str = "t",
    obs_col: str = "obs",
) -> DataFrame:
    """Exact 2-state VITERBI DECODE per series with INTEGER log-scores
    (scaled log-probabilities passed as integer weights, so the whole
    DP is bigint arithmetic — bit-exact on any engine): states {0, 1},
    emission weight ``emit_match`` when state == obs else ``emit_miss``,
    transition ``t_stay``/``t_switch``, uniform ``init``. Ties break
    LOW: a candidate from previous-state 1 wins only on strictly
    greater score, and the final state is 1 only if strictly better.

    The per-series forward pass + backtrace is inherently sequential,
    so it runs as ``applyInPandas`` over independent series (the q302
    recursion shape); the SQL oracle replays forward scores AND
    backpointers as one recursive CTE and walks the backtrace as a
    second. Returns one row per observation: (key, t, state)."""

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col, kind="mergesort")
        key = pdf[key_col].iloc[0]
        obs = pdf[obs_col].astype("int64").tolist()
        ts = pdf[t_col].astype("int64").tolist()
        n = len(obs)
        if n == 0:
            return pd.DataFrame({key_col: [], t_col: [], "state": []})

        def emit(s: int, o: int) -> int:
            return emit_match if s == o else emit_miss

        s0 = init + emit(0, obs[0])
        s1 = init + emit(1, obs[0])
        bps: list[tuple[int, int]] = [(0, 0)]
        for t in range(1, n):
            c00, c10 = s0 + t_stay, s1 + t_switch   # into state 0
            c01, c11 = s0 + t_switch, s1 + t_stay   # into state 1
            b0 = 0 if c00 >= c10 else 1
            b1 = 0 if c01 >= c11 else 1
            ns0 = emit(0, obs[t]) + max(c00, c10)
            ns1 = emit(1, obs[t]) + max(c01, c11)
            s0, s1 = ns0, ns1
            bps.append((b0, b1))
        state = 0 if s0 >= s1 else 1
        states = [0] * n
        states[n - 1] = state
        for t in range(n - 1, 0, -1):
            state = bps[t][state]
            states[t - 1] = state
        return pd.DataFrame(
            {key_col: [key] * n, t_col: ts, "state": states}
        )

    return df.groupBy(key_col).applyInPandas(
        per_series, schema=f"{key_col} string, {t_col} long, state int"
    )


def hmm_posterior_2state(
    df: DataFrame,
    p_stay: float,
    p_emit: float,
    key_col: str = "series",
    t_col: str = "t",
    obs_col: str = "obs",
) -> DataFrame:
    """Forward-backward POSTERIOR DECODING for the symmetric 2-state
    HMM (states {0,1}, P(stay)=p_stay, P(emit obs==state)=p_emit,
    uniform init): per-observation P(state=1 | all observations) — the
    smoothing counterpart of Viterbi's single best path.

    Per-series sequential scans (q302 shape) with PER-STEP
    NORMALIZATION, mirroring the recursive-CTE oracle's expression
    shapes exactly (same multiply/add/divide order) — NO intermediate
    rounding anywhere, the q302 bit-exact discipline: identical IEEE
    sequences on both engines. Emits the normalized alpha/beta state
    itself (key, t, obs, a0, a1, b0, b1) so consumers derive the
    posterior (q319) AND the Baum-Welch expected counts (q323) from
    one kernel."""

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col, kind="mergesort")
        key = pdf[key_col].iloc[0]
        obs = pdf[obs_col].astype("int64").tolist()
        ts = pdf[t_col].astype("int64").tolist()
        n = len(obs)
        if n == 0:
            return pd.DataFrame(
                {key_col: [], t_col: [], obs_col: [],
                 "a0": [], "a1": [], "b0": [], "b1": []}
            )
        p_sw, p_miss = 1.0 - p_stay, 1.0 - p_emit

        def emit(s: int, o: int) -> float:
            return p_emit if s == o else p_miss

        a0 = 0.5 * emit(0, obs[0])
        a1 = 0.5 * emit(1, obs[0])
        c = a0 + a1
        alphas = [(a0 / c, a1 / c)]
        for t in range(1, n):
            pa0, pa1 = alphas[-1]
            a0 = emit(0, obs[t]) * (pa0 * p_stay + pa1 * p_sw)
            a1 = emit(1, obs[t]) * (pa0 * p_sw + pa1 * p_stay)
            c = a0 + a1
            alphas.append((a0 / c, a1 / c))
        betas = [(0.5, 0.5)] * n
        betas[n - 1] = (0.5, 0.5)
        for t in range(n - 2, -1, -1):
            nb0, nb1 = betas[t + 1]
            e0, e1 = emit(0, obs[t + 1]), emit(1, obs[t + 1])
            b0 = p_stay * e0 * nb0 + p_sw * e1 * nb1
            b1 = p_sw * e0 * nb0 + p_stay * e1 * nb1
            c = b0 + b1
            betas[t] = (b0 / c, b1 / c)
        return pd.DataFrame(
            {
                key_col: [key] * n,
                t_col: ts,
                obs_col: obs,
                "a0": [a[0] for a in alphas],
                "a1": [a[1] for a in alphas],
                "b0": [b[0] for b in betas],
                "b1": [b[1] for b in betas],
            }
        )

    return df.groupBy(key_col).applyInPandas(
        per_series,
        schema=(
            f"{key_col} string, {t_col} long, {obs_col} int, "
            "a0 double, a1 double, b0 double, b1 double"
        ),
    )


GOTOH_NEG = -(10**9)  # -inf sentinel: far below any real score, no overflow


def gotoh_align_scores(
    pairs: DataFrame,
    match: int = 2,
    mismatch: int = -1,
    gap_open: int = -4,
    gap_extend: int = -1,
    id_col: str = "pair_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """AFFINE-GAP global alignment score (Gotoh 1982) — the three-
    matrix M/Ix/Iy DP real aligners use (one open penalty per gap run
    + a per-base extension, where q219's linear model charges every
    base equally): integer DP, bit-exact on any engine.

    Per-row numpy vectorization, no per-cell Python: M and Ix rows are
    columnwise maxima over the previous row; Iy's within-row chain
    Iy[j] = max(M[j-1]+go, Iy[j-1]+ge) is solved closed-form as a
    running max of M[j-1]+go-ge*j (the same left-chain trick as the NW
    kernel). The oracle replays all three matrices as a wavefront
    recursive CTE carrying three per-diagonal lists. Pairs are
    independent rows (mapInPandas); state is three DP rows."""
    import numpy as np

    out_schema = f"{id_col} bigint, n int, m int, affine_score int"

    def run(batches):
        for pdf in batches:
            ids, ns, ms, scores = [], [], [], []
            for pid, a, b in zip(pdf[id_col], pdf[a_col], pdf[b_col]):
                a = "" if a is None else str(a)
                b = "" if b is None else str(b)
                n, m = len(a), len(b)
                # utf-32-le -> one uint32 per code point: arbitrary text
                # is safe (latin1 raised UnicodeEncodeError on any char
                # > U+00FF and killed the executor task); the DP only
                # needs element-wise ==, which is unchanged
                av = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
                bv = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
                j_idx = np.arange(m + 1, dtype=np.int64)
                M = np.full(m + 1, GOTOH_NEG, dtype=np.int64)
                M[0] = 0
                Ix = np.full(m + 1, GOTOH_NEG, dtype=np.int64)
                Iy = np.full(m + 1, GOTOH_NEG, dtype=np.int64)
                if m:
                    Iy[1:] = gap_open + (j_idx[1:] - 1) * gap_extend
                for i in range(1, n + 1):
                    best_prev = np.maximum(np.maximum(M, Ix), Iy)
                    Mn = np.full(m + 1, GOTOH_NEG, dtype=np.int64)
                    if m:
                        s_vec = np.where(
                            av[i - 1] == bv, match, mismatch
                        ).astype(np.int64)
                        Mn[1:] = s_vec + best_prev[:-1]
                    Ixn = np.maximum(M + gap_open, Ix + gap_extend)
                    Iyn = np.full(m + 1, GOTOH_NEG, dtype=np.int64)
                    if m:
                        t = Mn[:-1] + gap_open - gap_extend * j_idx[1:]
                        h = np.maximum.accumulate(
                            np.concatenate(([np.int64(GOTOH_NEG)], t))
                        )
                        Iyn = h + gap_extend * j_idx
                    M, Ix, Iy = Mn, Ixn, Iyn
                score = int(max(M[m], Ix[m], Iy[m]))
                ids.append(pid)
                ns.append(n)
                ms.append(m)
                scores.append(score)
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "n": pd.array(ns, dtype="int32"),
                    "m": pd.array(ms, dtype="int32"),
                    "affine_score": pd.array(scores, dtype="int32"),
                }
            )

    return pairs.select(id_col, a_col, b_col).mapInPandas(run, schema=out_schema)


def lcs_lengths(
    pairs: DataFrame,
    id_col: str = "pair_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Pairwise LONGEST COMMON SUBSEQUENCE length — the DP under
    ROUGE-L (q379) and sequence-identity audits; the unit-cost cousin
    of ``nw_align_scores``.

    Same Arrow ``mapInPandas`` shape with per-ROW numpy vectorization:
    the within-row left-dependency L[i][j] = max(c[j], L[i][j-1])
    collapses to a running max (np.maximum.accumulate) because LCS
    rows are non-decreasing in j — so candidates
    c[j] = max(up[j], up[j-1] + eq[j]) vectorize and no per-cell
    Python loop survives. Integer DP -> bit-exact; the DuckDB oracle
    replays the identical recurrence as a wavefront recursive CTE
    (every anti-diagonal a pure map over the previous two). Equality
    with a naive O(n*m) reference is pinned in tests/test_kernels.py.
    """
    import numpy as np

    out_schema = f"{id_col} bigint, n int, m int, lcs_len int"

    def run(batches):
        for pdf in batches:
            ids, ns, ms, lens = [], [], [], []
            for pid, a, b in zip(pdf[id_col], pdf[a_col], pdf[b_col]):
                a = "" if a is None else str(a)
                b = "" if b is None else str(b)
                n, m = len(a), len(b)
                # utf-32-le -> one uint32 per code point: arbitrary text
                # is safe (latin1 raised UnicodeEncodeError on any char
                # > U+00FF and killed the executor task); the DP only
                # needs element-wise ==, which is unchanged
                av = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
                bv = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
                prev = np.zeros(m + 1, dtype=np.int64)
                for i in range(1, n + 1):
                    if m:
                        eq = (bv == av[i - 1]).astype(np.int64)
                        c = np.maximum(prev[1:], prev[:-1] + eq)
                        cur = np.empty(m + 1, dtype=np.int64)
                        cur[0] = 0
                        cur[1:] = c
                        prev = np.maximum.accumulate(cur)
                ids.append(pid)
                ns.append(n)
                ms.append(m)
                lens.append(int(prev[-1]))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "n": pd.array(ns, dtype="int32"),
                    "m": pd.array(ms, dtype="int32"),
                    "lcs_len": pd.array(lens, dtype="int32"),
                }
            )

    return pairs.select(id_col, a_col, b_col).mapInPandas(run, schema=out_schema)


def lcs_lengths_tokens(
    pairs: DataFrame,
    id_col: str = "pair_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """``lcs_lengths`` over TOKEN SEQUENCES (array<string> columns)
    instead of character strings — the DP under token-level ROUGE-L
    (q423), where the unit of match is a whole word/BPE piece, not a
    character (the r7 ROADMAP lead "BLEU/ROUGE over token sequences";
    q378's BLEU is already token-level, this closes the ROUGE side).

    Same Arrow ``mapInPandas`` + per-row numpy wavefront as
    ``lcs_lengths``; tokens are factorized per pair (np.unique
    return_inverse over the concatenated pair) so the inner DP compares
    int codes, never Python strings. Integer DP -> bit-exact; the
    DuckDB oracle replays the recurrence with list-element equality."""
    import numpy as np

    out_schema = f"{id_col} bigint, n int, m int, lcs_len int"

    def run(batches):
        for pdf in batches:
            ids, ns, ms, lens = [], [], [], []
            for pid, a, b in zip(pdf[id_col], pdf[a_col], pdf[b_col]):
                a = [] if a is None else list(a)
                b = [] if b is None else list(b)
                n, m = len(a), len(b)
                codes = np.unique(np.array(a + b, dtype=object), return_inverse=True)[1]
                av, bv = codes[:n], codes[n:]
                prev = np.zeros(m + 1, dtype=np.int64)
                for i in range(1, n + 1):
                    if m:
                        eq = (bv == av[i - 1]).astype(np.int64)
                        c = np.maximum(prev[1:], prev[:-1] + eq)
                        cur = np.empty(m + 1, dtype=np.int64)
                        cur[0] = 0
                        cur[1:] = c
                        prev = np.maximum.accumulate(cur)
                ids.append(pid)
                ns.append(n)
                ms.append(m)
                lens.append(int(prev[-1]))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="int64"),
                    "n": pd.array(ns, dtype="int32"),
                    "m": pd.array(ms, dtype="int32"),
                    "lcs_len": pd.array(lens, dtype="int32"),
                }
            )

    return pairs.select(id_col, a_col, b_col).mapInPandas(run, schema=out_schema)


def page_hinkley_scan(
    df: DataFrame,
    key_col: str = "series",
    t_col: str = "t",
    val_col: str = "m",
    delta: float = 0.1,
) -> DataFrame:
    """PAGE-HINKLEY drift statistic per series (the sequential
    changepoint monitor CUSUM's mean-shift variant, q197's streaming-
    flavored cousin): m_t = m_{t-1} + (x_t - mu_t - delta) with mu_t
    the RUNNING mean, M_t = min so far, excess_t = m_t - M_t — the
    alarm fires when the excess clears a threshold (applied by the
    caller, so the kernel stays threshold-free).

    Emits EVERY per-step state row (key, t, x, ph_m, ph_min, excess)
    — the recursive-CTE oracle pins the whole walk, not just the end.
    Plain float64 with the exact expression shapes the SQL replay
    uses (q302 discipline: same add/divide order, no intermediate
    rounding). Sequential per series, series independent
    (``applyInPandas`` shape).
    """
    import pandas as pd  # noqa: F811

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col, kind="mergesort")
        key = pdf[key_col].iloc[0]
        ts = pdf[t_col].to_numpy(dtype="int64")
        xs = pdf[val_col].to_numpy(dtype="float64")
        rows = []
        cum = 0.0
        m = 0.0
        mmin = 0.0
        for i, (t, x) in enumerate(zip(ts, xs), start=1):
            cum = cum + x
            mu = cum / i
            m = m + (x - mu - delta)
            mmin = min(mmin, m)
            rows.append((key, int(t), float(x), m, mmin, m - mmin))
        return pd.DataFrame(
            rows, columns=[key_col, t_col, "x", "ph_m", "ph_min", "excess"]
        )

    schema = (
        f"{key_col} string, {t_col} long, x double, ph_m double, "
        "ph_min double, excess double"
    )
    return df.select(key_col, t_col, val_col).groupBy(key_col).applyInPandas(
        per_series, schema=schema
    )


def viterbi_decode_2state_scores(
    df: DataFrame,
    stay0: int,
    sw01: int,
    sw10: int,
    stay1: int,
    key_col: str = "series",
    t_col: str = "t",
    s0_col: str = "e0",
    s1_col: str = "e1",
) -> DataFrame:
    """``viterbi_decode_2state`` generalized to PER-ROW integer
    emission scores (columns ``s0_col``/``s1_col``) and a full
    asymmetric transition matrix — the shape Kleinberg burst detection
    (q410) needs, where emissions depend on a count, not a binary
    match. Same bigint DP, same LOW tie-breaks, same
    ``applyInPandas``-per-series / recursive-CTE-oracle contract."""

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col, kind="mergesort")
        key = pdf[key_col].iloc[0]
        e0s = pdf[s0_col].astype("int64").tolist()
        e1s = pdf[s1_col].astype("int64").tolist()
        ts = pdf[t_col].astype("int64").tolist()
        n = len(ts)
        if n == 0:
            return pd.DataFrame({key_col: [], t_col: [], "state": []})
        s0 = e0s[0]
        s1 = e1s[0]
        bps: list[tuple[int, int]] = [(0, 0)]
        for t in range(1, n):
            c00, c10 = s0 + stay0, s1 + sw10   # into state 0
            c01, c11 = s0 + sw01, s1 + stay1   # into state 1
            b0 = 0 if c00 >= c10 else 1
            b1 = 0 if c01 >= c11 else 1
            ns0 = e0s[t] + max(c00, c10)
            ns1 = e1s[t] + max(c01, c11)
            s0, s1 = ns0, ns1
            bps.append((b0, b1))
        state = 0 if s0 >= s1 else 1
        states = [0] * n
        states[n - 1] = state
        for t in range(n - 1, 0, -1):
            state = bps[t][state]
            states[t - 1] = state
        return pd.DataFrame({key_col: [key] * n, t_col: ts, "state": states})

    return df.groupBy(key_col).applyInPandas(
        per_series, schema=f"{key_col} string, {t_col} long, state int"
    )


def community_components(edges_and_nodes, max_group_rows: int = 1_000_000):
    """Per-community connected-piece counts: ``community_piece_labels``
    (one Arrow union-find batch per community, with its distributed
    fallback above ``max_group_rows`` input rows) folded to one row
    per community — n_nodes is the number of labelled nodes, n_pieces
    the number of distinct piece labels.

    Input rows: (community, a, b) — an intra-community edge when
    b >= 0, a node-presence marker when b == -1. Output per community:
    (community, n_nodes, n_pieces)."""
    return (
        community_piece_labels(edges_and_nodes, max_group_rows)
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.countDistinct("rc").cast("long").alias("n_pieces"),
        )
    )


def pav_isotonic(
    df: DataFrame,
    key_col: str = "grp",
    x_col: str = "x",
    pos_col: str = "n_pos",
    tot_col: str = "n_tot",
) -> DataFrame:
    """POOL-ADJACENT-VIOLATORS isotonic regression per group: fit the
    non-decreasing step function minimizing weighted squared error to
    the per-x positive rates (pos/tot) — the calibration-curve fitter
    (Zadrozny & Elkan 2002) beside the q479 ECE audit.

    Exactness contract: pooling is INTEGER arithmetic — blocks carry
    (sum_pos, sum_tot) and the violation test is the cross-multiply
    ``pos_a * tot_b > pos_b * tot_a`` (no float compares), so the
    fitted rate is a SINGLE exact-integer division per block. That
    makes the fit bit-reproducible and lets a SQL oracle verify it via
    the closed-form minimax characterization
    ``g(k) = max_{i<=k} min_{j>=k} mean(y[i..j])``: the achieved
    fraction equals the block fraction in real value, and IEEE
    division is correctly rounded, so the doubles agree bit-for-bit.

    Spark shape: groups are independent — ``applyInPandas`` after a
    hash partition on the key; each group is a bounded (score-bucket
    domain) left-to-right stack scan, the textbook sequential-kernel
    pattern (q302's discipline).
    """

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(x_col, kind="mergesort")
        xs = pdf[x_col].to_numpy()
        pos = pdf[pos_col].to_numpy(dtype="int64")
        tot = pdf[tot_col].to_numpy(dtype="int64")
        key = pdf[key_col].iloc[0]
        # stack of blocks: (sum_pos, sum_tot, n_points)
        blocks: list[list[int]] = []
        for p, t in zip(pos, tot):
            blocks.append([int(p), int(t), 1])
            while len(blocks) >= 2:
                pb, tb, _ = blocks[-1]
                pa, ta, _ = blocks[-2]
                if pa * tb > pb * ta:  # prev mean > cur mean -> pool
                    blocks[-2][0] += blocks[-1][0]
                    blocks[-2][1] += blocks[-1][1]
                    blocks[-2][2] += blocks[-1][2]
                    blocks.pop()
                else:
                    break
        iso = []
        for bp, bt, n in blocks:
            iso.extend([float(bp) / float(bt)] * n)
        return pd.DataFrame(
            {
                key_col: [key] * len(xs),
                x_col: xs,
                pos_col: pos,
                tot_col: tot,
                "iso_rate": iso,
            }
        )

    return df.groupBy(key_col).applyInPandas(
        per_group,
        schema=(
            f"{key_col} string, {x_col} int, {pos_col} long, {tot_col} long,"
            " iso_rate double"
        ),
    )


def holt_winters_smooth(
    df: DataFrame,
    key_col: str = "series",
    t_col: str = "t",
    val_col: str = "m",
    period: int = 24,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    horizon: int = 24,
) -> DataFrame:
    """ADDITIVE HOLT-WINTERS (triple-exponential) smoothing per series —
    the seasonal rung above ``holt_linear_smooth``: level + trend +
    an m-term additive seasonal recursion (Hyndman-Athanasopoulos
    init: l_m = mean of season 1, b_m = (mean2 - mean1)/m,
    s_i = y_i - mean1), then for t > m
        l_t = a*(y_t - s_{t-m}) + (1-a)*(l + b)
        b_t = B*(l_t - l) + (1-B)*b
        s_t = g*(y_t - l_t) + (1-g)*s_{t-m}.

    Exactness contract (the q302 discipline, extended): inputs are
    round-6 doubles, so the two init means are recovered as EXACT
    integer micro-unit sums divided ONCE (sum1/24e6 as a single IEEE
    division) — no order-dependent float accumulation anywhere; the
    recursion itself is plain float64 with the exact expression shapes
    a recursive-CTE replay uses, so the SQL oracle reproduces the walk
    bit-for-bit with NO intermediate rounding. Series shorter than two
    full seasons are dropped (both sides).

    Spark shape: hash-partition by series, ``applyInPandas`` bounded
    scan per group; the seasonal state is an m-slot ring. Forecast is
    l + horizon*b + the matching-phase seasonal."""

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(t_col, kind="mergesort")
        vals = pdf[val_col].to_numpy(dtype="float64")
        key = pdf[key_col].iloc[0]
        n = len(vals)
        m = period
        if n < 2 * m:
            return pd.DataFrame(
                {
                    key_col: pd.Series([], dtype=object),
                    "n_obs": pd.Series([], dtype="int64"),
                    "level": pd.Series([], dtype="float64"),
                    "trend": pd.Series([], dtype="float64"),
                    "season_last": pd.Series([], dtype="float64"),
                    "forecast": pd.Series([], dtype="float64"),
                }
            )
        sum1 = int(sum(int(round(float(v) * 1e6)) for v in vals[:m]))
        sum2 = int(sum(int(round(float(v) * 1e6)) for v in vals[m : 2 * m]))
        mean1 = float(sum1) / (m * 1e6)
        level = mean1
        trend = float(sum2 - sum1) / (m * m * 1e6)
        seas = [float(vals[i]) - mean1 for i in range(m)]
        for t in range(m, n):
            y = float(vals[t])
            s_old = seas[0]
            new_level = alpha * (y - s_old) + (1.0 - alpha) * (level + trend)
            new_trend = beta * (new_level - level) + (1.0 - beta) * trend
            s_new = gamma * (y - new_level) + (1.0 - gamma) * s_old
            seas = seas[1:] + [s_new]
            level, trend = new_level, new_trend
        # matching-phase seasonal for an h-step forecast, h = period
        fc = level + horizon * trend + seas[m - 1]
        return pd.DataFrame(
            {
                key_col: [key],
                "n_obs": [n],
                "level": [level],
                "trend": [trend],
                "season_last": [seas[m - 1]],
                "forecast": [fc],
            }
        )

    return df.groupBy(key_col).applyInPandas(
        per_series,
        schema=(
            f"{key_col} string, n_obs long, level double, trend double,"
            " season_last double, forecast double"
        ),
    )


def community_piece_labels(edges_and_nodes, max_group_rows: int = 1_000_000):
    """Per-community connected components via ``applyInPandas``:
    union-find over each community's OWN intra-edges (one Arrow batch
    each), returning each node's piece label (community, node, rc)
    with rc = the piece's MINIMUM node id — what Leiden refinement
    consumes (``rc`` keys the aggregation units);
    ``community_components`` counts the pieces from it.

    One Arrow batch per community replaces iterative global
    star-contraction rounds: for q531's five-level loop that is the
    difference between ~900 accumulated stages (which overflow a
    DEFAULT-memory driver's status store — the loop OOMed a vanilla
    1g local[8] session at level 5) and ~10 stages per level.

    LPA/Louvain keep hub-heavy megaclusters, so "communities are
    small" is a hope, not an invariant: a near-global community would
    funnel its entire intra-edge relation into ONE executor task — an
    OOM/straggler hazard at scale. Communities above ``max_group_rows``
    input rows therefore split off (one broadcast anti-join) to
    ``connected_components`` over namespaced keys (equality with the
    fold pinned in tests with the cap forced low).

    Input rows: (community, a, b) — an intra-community edge when
    b >= 0, a node-presence marker when b == -1. The union parents
    larger roots at smaller ones, so every find() lands on the
    piece minimum — no second pass needed."""
    import pandas as pd

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(x, y):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)

        for a in pdf["a"]:
            parent.setdefault(int(a), int(a))
        for a, b in zip(pdf["a"], pdf["b"]):
            if b >= 0:
                parent.setdefault(int(b), int(b))
                union(int(a), int(b))
        nodes = sorted(parent)
        return pd.DataFrame(
            {
                "community": [int(pdf["community"].iloc[0])] * len(nodes),
                "node": nodes,
                "rc": [find(x) for x in nodes],
            }
        )

    # The size gate below is an EAGER action at plan-construction time,
    # and the input feeds up to two more consumers (small fold, big
    # fallback) — persist it here so a lazy upstream is computed once,
    # not 2-3x (callers need not pre-materialize).
    from variantcalling_spark._persist import managed_persist

    edges_and_nodes = edges_and_nodes.transform(managed_persist)
    sizes = edges_and_nodes.groupBy("community").agg(
        F.count(F.lit(1)).alias("_nrows")
    )
    big = sizes.where(F.col("_nrows") > max_group_rows).select("community")
    # one bounded action: the big-community id set is tiny by
    # construction (it costs one row per OVERSIZED community)
    big_ids = [r.community for r in big.collect()]
    small_in = edges_and_nodes
    if big_ids:
        small_in = edges_and_nodes.join(
            F.broadcast(big), "community", "left_anti"
        )
    out = small_in.groupBy("community").applyInPandas(
        fold, "community long, node long, rc long"
    )
    if big_ids:
        out = out.unionByName(_big_community_piece_labels(edges_and_nodes, big))
    return out


def _big_community_piece_labels(edges_and_nodes, big) -> DataFrame:
    """Distributed fallback for oversized communities, per-node form:
    star-contraction over community-namespaced keys; the contraction's
    min-label IS the piece minimum after un-namespacing. Node universe
    is markers UNION edge endpoints, identical to the Arrow fold."""
    from variantcalling_spark.operators.dedup import connected_components

    rows = edges_and_nodes.join(F.broadcast(big), "community")
    edges = rows.where(F.col("b") >= 0)
    nodes = (
        rows.select("community", F.col("a").alias("node"))
        .unionByName(edges.select("community", F.col("b").alias("node")))
        .distinct()
    )
    # zero-pad the node half so the contraction's LEXICOGRAPHIC min over
    # namespaced strings equals the NUMERIC piece minimum ("10" < "9"
    # as strings would otherwise mislabel; the counting fallback never
    # cared, labels do)
    def _ns(col):
        return F.concat_ws(
            "#",
            F.col("community").cast("string"),
            F.lpad(F.col(col).cast("string"), 20, "0"),
        )

    comp = connected_components(
        edges.select(_ns("a").alias("doc_a"), _ns("b").alias("doc_b"))
    )
    labeled = comp.select(
        F.split_part(F.col("node"), F.lit("#"), F.lit(1)).cast("long").alias("community"),
        F.split_part(F.col("node"), F.lit("#"), F.lit(2)).cast("long").alias("node"),
        F.split_part(F.col("label"), F.lit("#"), F.lit(2)).cast("long").alias("rc"),
    )
    # marker-only nodes (no incident intra-edge) are their own piece
    return (
        nodes.join(labeled, ["community", "node"], "left")
        .select(
            "community",
            "node",
            F.coalesce("rc", F.col("node")).alias("rc"),
        )
    )
