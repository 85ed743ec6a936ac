"""Seeded input generator for the four benchmark workloads.

Every input is a pure function of ``seed``: the same seed writes the same
bytes. Alongside the files the generator returns the PLANTED truth it built
the files from (per-category tp/fp/fn, per-base depth, the gVCF records,
the documents and their planted near-duplicate pairs, input record and byte
counts). ``checks.py`` turns these into expectations once per seed, before
anything is timed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (stated in BENCHMARK.json; change both together) -------------
CONTIGS = ("chr1", "chr2", "chr3", "chr4")
CONTIG_LEN = 1_000_000
CATEGORIES = ("exome", "lcr", "mappability", "gc_extreme")
# fixed per contig AND per category, so interval density is the same for
# the sparse (germline_eval) and the dense (coverage_qc) point sets
INTERVALS_PER_CONTIG_PER_CATEGORY = 100
VCF_RECORDS = 30_000
SAM_COVERED_BP = 20_000  # reads cover [0, SAM_COVERED_BP) of each contig
SAM_MEAN_DEPTH = 12
SAM_READ_LEN = 100
GVCF_RECORDS = 40_000
DOCS = 1_500
DOC_WORDS = (60, 100)
VOCAB = 4_000
PLANTED_PAIR_FRAC = 0.1  # planted near-duplicate pairs per document

MIN_MAPQ = 20
REFCALL_GQ_THRESHOLD = 22
MERGE_GQ_THRESHOLD = 10
BIN_WINDOW = 1_000
JACCARD_THRESHOLD = 0.5
BASES = np.array(list("ACGT"))


@dataclass
class Inputs:
    """Paths of one workload's generated files plus the planted truth."""

    workload: str
    seed: int
    root: str
    files: dict[str, str] = field(default_factory=dict)
    records: int = 0  # input records per iteration (records_per_s numerator)
    input_bytes: int = 0  # bytes of the files one iteration reads
    truth: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def _write_bed(seed: int, path: str) -> pd.DataFrame:
    """The annotation BED. It draws from its own stream, so germline_eval
    and coverage_qc read the SAME intervals for a given seed."""
    rng = np.random.default_rng([seed, 0])
    rows = []
    for chrom in CONTIGS:
        for cat in CATEGORIES:
            n = INTERVALS_PER_CONTIG_PER_CATEGORY
            lens = rng.integers(200, 2_000, n)
            starts = rng.integers(0, CONTIG_LEN - 2_000, n)
            for s, ln in zip(starts, lens):
                rows.append((chrom, int(s), int(s + ln), cat))
    bed = pd.DataFrame(rows, columns=["chrom", "start", "end", "category"])
    with open(path, "w") as fh:
        fh.write("track name=annotation\n")
        for r in bed.itertuples(index=False):
            fh.write(f"{r.chrom}\t{r.start}\t{r.end}\t{r.category}\n")
    return bed


def _join_counts(points: pd.DataFrame, bed: pd.DataFrame, label: np.ndarray) -> dict:
    """Planted per-category tp/fp/fn under inner point-in-interval join
    semantics (a point inside two intervals of a category counts twice)."""
    out = {c: {"tp": 0, "fp": 0, "fn": 0} for c in CATEGORIES}
    for chrom in CONTIGS:
        m = (points["chrom"] == chrom).to_numpy()
        pos = points["pos"].to_numpy()[m]
        lab = label[m]
        order = np.argsort(pos, kind="stable")
        pos, lab = pos[order], lab[order]
        for r in bed[bed["chrom"] == chrom].itertuples(index=False):
            lo, hi = np.searchsorted(pos, [r.start, r.end], side="left")
            for k in ("tp", "fp", "fn"):
                out[r.category][k] += int(np.count_nonzero(lab[lo:hi] == k))
    return out


def gen_germline(seed: int, root: str) -> Inputs:
    rng = np.random.default_rng([seed, 1])
    inp = Inputs("germline_eval", seed, root)
    bed = _write_bed(seed, os.path.join(root, "annot.bed"))
    per = VCF_RECORDS // len(CONTIGS)
    chroms, poss = [], []
    for chrom in CONTIGS:
        p = np.sort(rng.choice(np.arange(1, CONTIG_LEN), per, replace=False))
        chroms += [chrom] * per
        poss.append(p)
    pos = np.concatenate(poss)
    n = len(pos)
    label = rng.choice(np.array(["tp", "fp", "fn"]), n, p=[0.7, 0.15, 0.15])
    # 3-decimal scores: ties exist, so the curve's per-threshold grouping
    # is exercised
    # callers score true calls higher than false ones
    score = np.where(
        label == "fp", np.round(rng.beta(2, 4, n), 3), np.round(rng.beta(4, 2, n), 3)
    )
    ref = BASES[rng.integers(0, 4, n)]
    alt = BASES[(np.searchsorted(BASES, ref) + rng.integers(1, 4, n)) % 4]
    qual = rng.integers(10, 90, n)
    path = os.path.join(root, "concordance.vcf")
    with open(path, "w") as fh:
        fh.write("##fileformat=VCFv4.2\n")
        for c in CONTIGS:
            fh.write(f"##contig=<ID={c},length={CONTIG_LEN}>\n")
        fh.write('##INFO=<ID=CALL,Number=1,Type=String,Description="vcfeval call">\n')
        fh.write('##INFO=<ID=BASE,Number=1,Type=String,Description="vcfeval base">\n')
        fh.write('##INFO=<ID=TREE_SCORE,Number=1,Type=Float,Description="score">\n')
        fh.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSAMPLE\n")
        for i in range(n):
            if label[i] == "tp":
                info = f"CALL=TP;BASE=TP;TREE_SCORE={score[i]:.3f}"
                q, flt, gt = str(qual[i]), "PASS", "0/1"
            elif label[i] == "fp":
                info = f"CALL=FP;TREE_SCORE={score[i]:.3f}"
                q, flt, gt = str(qual[i]), "PASS", "0/1"
            else:
                info, q, flt, gt = "BASE=FN", ".", ".", "./."
            fh.write(
                f"{chroms[i]}\t{pos[i]}\t.\t{ref[i]}\t{alt[i]}\t{q}\t{flt}\t{info}\tGT\t{gt}\n"
            )
    points = pd.DataFrame({"chrom": chroms, "pos": pos})
    inp.files = {"vcf": path, "bed": os.path.join(root, "annot.bed")}
    inp.records = n
    inp.input_bytes = _dir_bytes(path) + _dir_bytes(inp.files["bed"])
    inp.truth = {"confusion": _join_counts(points, bed, label), "records": n}
    return inp


def _cigar(rng: np.random.Generator, read_len: int) -> tuple[str, int]:
    """A CIGAR over ``read_len`` query bases and its reference length."""
    kind = rng.integers(0, 6)
    if kind == 0:
        a = int(rng.integers(20, read_len - 20))
        d = int(rng.integers(1, 6))
        return f"{a}M{d}D{read_len - a}M", read_len + d
    if kind == 1:
        a = int(rng.integers(20, read_len - 25))
        i = int(rng.integers(1, 5))
        return f"{a}M{i}I{read_len - a - i}M", read_len - i
    if kind == 2:
        s = int(rng.integers(1, 15))
        return f"{s}S{read_len - s}M", read_len - s
    if kind == 3:
        a = int(rng.integers(10, read_len - 10))
        return f"{a}=1X{read_len - a - 1}=", read_len
    return f"{read_len}M", read_len


def gen_coverage(seed: int, root: str) -> Inputs:
    rng = np.random.default_rng([seed, 2])
    inp = Inputs("coverage_qc", seed, root)
    _write_bed(seed, os.path.join(root, "annot.bed"))
    n_per = SAM_COVERED_BP * SAM_MEAN_DEPTH // SAM_READ_LEN
    depth = {c: np.zeros(SAM_COVERED_BP + 2 * SAM_READ_LEN, dtype=np.int64) for c in CONTIGS}
    path = os.path.join(root, "reads.sam")
    n_records = 0
    with open(path, "w") as fh:
        fh.write("@HD\tVN:1.6\tSO:unsorted\n")
        for c in CONTIGS:
            fh.write(f"@SQ\tSN:{c}\tLN:{CONTIG_LEN}\n")
        qn = 0
        for c in CONTIGS:
            starts = rng.integers(0, SAM_COVERED_BP - SAM_READ_LEN, n_per)
            for s0 in starts:
                qn += 1
                n_records += 1
                seq = "".join(BASES[rng.integers(0, 4, SAM_READ_LEN)])
                qual = "I" * SAM_READ_LEN
                r = rng.random()
                if r < 0.03:  # unmapped
                    fh.write(f"q{qn}\t4\t*\t0\t0\t*\t*\t0\t0\t{seq}\t{qual}\n")
                    continue
                mapq = int(rng.integers(0, 61)) if r < 0.15 else 60
                flag = 16 if rng.random() < 0.5 else 0
                cig, ref_len = _cigar(rng, SAM_READ_LEN)
                fh.write(
                    f"q{qn}\t{flag}\t{c}\t{s0 + 1}\t{mapq}\t{cig}\t*\t0\t0\t{seq}\t{qual}\n"
                )
                if mapq >= MIN_MAPQ:
                    depth[c][s0] += 1
                    depth[c][s0 + ref_len] -= 1
    per_base = {c: np.cumsum(d) for c, d in depth.items()}
    inp.files = {"sam": path, "bed": os.path.join(root, "annot.bed")}
    inp.records = n_records
    inp.input_bytes = _dir_bytes(path) + _dir_bytes(inp.files["bed"])
    inp.truth = {"depth": per_base, "records": n_records}
    return inp


def gen_gvcf(seed: int, root: str) -> Inputs:
    rng = np.random.default_rng([seed, 3])
    inp = Inputs("gvcf_archive", seed, root)
    per = GVCF_RECORDS // len(CONTIGS)
    frames = []
    for c in CONTIGS:
        lens = rng.integers(1, 40, per)
        pos = 1 + np.concatenate([[0], np.cumsum(lens + 1)[:-1]])
        stop = pos + lens - 1
        kind = rng.random(per)
        flt = np.where(kind < 0.05, "PASS", "RefCall")
        # GQ as a bounded random walk with occasional jumps: blocks of
        # varying length, some low-GQ (non-mergeable) singletons
        steps = rng.integers(-3, 4, per)
        jumps = rng.random(per) < 0.03
        gq = np.empty(per, dtype=np.int64)
        g = 50
        for i in range(per):
            g = int(rng.integers(0, 99)) if jumps[i] else min(99, max(0, g + steps[i]))
            gq[i] = g
        dp = rng.integers(5, 60, per)
        min_dp = np.where(rng.random(per) < 0.3, -1, np.maximum(dp - rng.integers(0, 5, per), 0))
        pl = [
            [0, int(a), int(a + b)]
            for a, b in zip(rng.integers(0, 60, per), rng.integers(0, 60, per))
        ]
        frames.append(
            pd.DataFrame(
                {
                    "chrom": c,
                    "pos": pos.astype(np.int64),
                    "stop": stop.astype(np.int64),
                    "filter": flt,
                    "gq": gq.astype(np.int32),
                    "min_dp": pd.array(np.where(min_dp < 0, None, min_dp), dtype="Int32"),
                    "dp": dp.astype(np.int32),
                    "pl": pl,
                }
            )
        )
    df = pd.concat(frames, ignore_index=True)
    # shuffle row order: the kernel must sort per contig itself
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    out = os.path.join(root, "gvcf.parquet")
    table = pa.Table.from_pandas(
        df,
        schema=pa.schema(
            [
                ("chrom", pa.string()),
                ("pos", pa.int64()),
                ("stop", pa.int64()),
                ("filter", pa.string()),
                ("gq", pa.int32()),
                ("min_dp", pa.int32()),
                ("dp", pa.int32()),
                ("pl", pa.list_(pa.int32())),
            ]
        ),
        preserve_index=False,
    )
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, "part-0.parquet"))
    inp.files = {"tables": root, "gvcf": out}
    inp.records = len(df)
    inp.input_bytes = _dir_bytes(out)
    inp.truth = {"records": len(df), "frame": df}
    return inp


def gen_neardup(seed: int, root: str) -> Inputs:
    rng = np.random.default_rng([seed, 4])
    inp = Inputs("neardup_curation", seed, root)
    vocab = np.array([f"w{i}" for i in range(VOCAB)])
    docs = []
    for _ in range(DOCS):
        n = int(rng.integers(*DOC_WORDS))
        docs.append(list(vocab[rng.integers(0, VOCAB, n)]))
    n_pairs = int(DOCS * PLANTED_PAIR_FRAC)
    # disjoint (source, copy) doc pairs: the copy is the source with 1-3
    # word substitutions (exact 3-shingle Jaccard ~0.8-0.95)
    chosen = rng.permutation(DOCS)[: 2 * n_pairs]
    planted = []
    for a, b in zip(chosen[:n_pairs], chosen[n_pairs:]):
        words = list(docs[a])
        for _ in range(int(rng.integers(1, 4))):
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, VOCAB)])
        docs[b] = words
        planted.append((int(min(a, b)), int(max(a, b))))
    df = pd.DataFrame(
        {"doc_id": np.arange(DOCS, dtype=np.int64), "text": [" ".join(w) for w in docs]}
    )
    out = os.path.join(root, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), os.path.join(out, "part-0.parquet")
    )
    inp.files = {"tables": root, "documents": out}
    inp.records = DOCS
    inp.input_bytes = _dir_bytes(out)
    inp.truth = {"planted": sorted(planted), "texts": df["text"].tolist()}
    return inp


GENERATORS = {
    "germline_eval": gen_germline,
    "coverage_qc": gen_coverage,
    "gvcf_archive": gen_gvcf,
    "neardup_curation": gen_neardup,
}


def generate(workload: str, seed: int, root: str) -> Inputs:
    os.makedirs(root, exist_ok=True)
    return GENERATORS[workload](seed, root)
