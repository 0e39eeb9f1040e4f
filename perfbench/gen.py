"""Seeded, vectorized input generators for every workload.

Everything here is numpy/pandas/pyarrow; nothing calls Spark, so the
generators run outside every timed span. Each generator draws from its own
`np.random.default_rng([seed, stream])`, so the same seed gives the same
frames, op streams and file bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASES = np.array(list("ACGT"))
CHROMS = 23  # 1..22 plus X coded 23 (plink)


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> int:
    """Deterministic single-file parquet write; returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _join(*parts) -> pd.Series:
    """Element-wise string concatenation of arrays and literal strings."""
    out = pd.Series(parts[0]).astype(str)
    for p in parts[1:]:
        out = out + (p if isinstance(p, str) else pd.Series(p).astype(str).values)
    return out


# -- variants --------------------------------------------------------------


def variants(seed: int, n: int, mean_gap: int = 1000) -> pd.DataFrame:
    """b37-shaped variants: unique (chr, pos), sorted, with kgp_id
    `chr:pos_ref_alt` and an rs alias for every fifth variant."""
    r = rng(seed, 1)
    chrom = np.sort(r.integers(1, CHROMS + 1, n)).astype(np.int32)
    gaps = r.integers(max(1, mean_gap // 10), 2 * mean_gap, n)
    cs = np.cumsum(gaps)
    starts = np.searchsorted(chrom, chrom, side="left")
    pos = (10_000 + cs - cs[starts] + gaps[starts]).astype(np.int32)
    ref_i = r.integers(0, 4, n)
    alt_i = (ref_i + r.integers(1, 4, n)) % 4
    ref, alt = BASES[ref_i], BASES[alt_i]
    kgp = _join(chrom, ":", pos, "_", ref, "_", alt)
    rs = np.where(np.arange(n) % 5 == 0, "rs" + pd.Series(1_000_000 + np.arange(n)).astype(str), None)
    return pd.DataFrame(
        {"kgp_id": kgp, "chr": chrom, "pos": pos, "ref": ref, "alt": alt, "rs": rs}
    )


B37_SCHEMA = pa.schema(
    [("kgp_id", pa.string()), ("chr", pa.int32()), ("pos", pa.int32()),
     ("ref", pa.string()), ("alt", pa.string())]
)
MARKER_SCHEMA = pa.schema([("kgp_id", pa.string()), ("marker_name", pa.string())])


def marker_aliases(v: pd.DataFrame) -> pd.DataFrame:
    m = v[v["rs"].notna()]
    return pd.DataFrame({"kgp_id": m["kgp_id"].values, "marker_name": m["rs"].values})


def study_rows(ids, quantitative=()) -> list[dict]:
    import datetime

    rows = []
    for i in ids:
        quant = i in quantitative
        rows.append(
            {
                "id": int(i), "name": f"study_{i:03d}", "ancestry": "European",
                "model_formula": f"trait_{i} ~ age + sex + PC1:10",
                "gwas_date": datetime.date(2020, 1, 1) + datetime.timedelta(days=int(i)),
                "n": 100_000 + int(i), "n_case": None if quant else 5_000 + int(i),
                "n_control": None if quant else 95_000, "imputed": True,
                "impute_ref_panel": "HRC", "summary_only": False, "citation": None,
                "url": None, "xsan_path": None, "comment": None,
            }
        )
    return rows


def _geno(r, n) -> pd.Series:
    return _join(r.integers(0, 60, n), "/", r.integers(0, 120, n), "/", r.integers(100, 600, n))


# -- raw plink study files (ingest) ----------------------------------------


def plink_study(seed: int, v: pd.DataFrame, idx: int, out_dir: str,
                quantitative: bool, maf_min: float = 0.01) -> dict:
    """Write one study's raw plink outputs: gwas TSV (OR or BETA), long
    HWE TSV (ALL/AFF/UNAFF; ALL only for a quantitative trait), headerless
    mfi TSV, and a `.frq` for the quantitative trait. Returns the paths and
    the generator's own QC count (rows the ingest must remove)."""
    r = rng(seed, 1000 + idx)
    n = len(v)
    snp = np.where(v["rs"].notna(), v["rs"], v["kgp_id"]).astype(object)
    chrom = v["chr"].values
    stat = np.round(r.normal(0, 0.05, n) if quantitative else r.lognormal(0, 0.1, n), 4)
    null_stat = r.random(n) < 0.05
    # ~10% fail the info-score QC, ~5% have no effect estimate
    info = np.round(np.where(r.random(n) < 0.1, r.uniform(0.1, 0.299, n), r.uniform(0.3, 1.0, n)), 3)
    remove = null_stat | (info < 0.3)
    gwas = pd.DataFrame(
        {
            "CHR": chrom, "SNP": snp, "A1": v["ref"].values, "A2": v["alt"].values,
            "BETA" if quantitative else "OR": pd.Series(stat).where(~null_stat),
            "SE": np.round(r.random(n) * 0.2, 4),
            "P": np.round(np.maximum(r.random(n), 1e-12), 8),
        }
    )
    tests = ["ALL"] if quantitative else ["ALL", "AFF", "UNAFF"]
    k = len(tests)
    hwe = pd.DataFrame(
        {
            "CHR": np.repeat(chrom, k), "SNP": np.repeat(snp, k),
            "TEST": np.tile(tests, n), "A1": np.repeat(v["ref"].values, k),
            "A2": np.repeat(v["alt"].values, k), "GENO": _geno(r, n * k).values,
            "O_HET": np.round(r.random(n * k), 4), "E_HET": np.round(r.random(n * k), 4),
            "P": np.round(r.random(n * k), 6),
        }
    )
    # mfi: positional ids, some with a trailing ",position" the ingest
    # strips; rs-named markers carry the rs name and resolve via `marker`
    cpa = np.where(v["rs"].notna(), v["rs"], v["kgp_id"]).astype(object)
    suffix = r.random(n) < 0.1
    cpa = np.where(suffix & v["rs"].isna().values, _join(pd.Series(cpa), ",", v["pos"].values).values, cpa)
    mfi = pd.DataFrame(
        {
            "cpa": cpa, "snp": snp, "pos": v["pos"].values, "ref": v["ref"].values,
            "alt": v["alt"].values, "maf": np.round(r.uniform(1e-4, 0.5, n), 5),
            "a1": v["ref"].values, "info": info,
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "gwas_tsv": os.path.join(out_dir, "gwas.tsv"),
        "hwe_tsv": os.path.join(out_dir, "hwe.tsv"),
        "mfi_tsv": os.path.join(out_dir, "mfi.tsv"),
        "frq_tsv": None,
    }
    gwas.to_csv(paths["gwas_tsv"], sep="\t", index=False, na_rep="NA")
    hwe.to_csv(paths["hwe_tsv"], sep="\t", index=False, na_rep="NA")
    mfi.to_csv(paths["mfi_tsv"], sep="\t", index=False, header=False)
    if quantitative:
        maf = np.round(r.uniform(0, 0.5, n), 5)
        remove = remove | (maf < maf_min)
        frq = pd.DataFrame(
            {"CHR": chrom, "SNP": snp, "A1": v["ref"].values, "A2": v["alt"].values,
             "MAF": maf, "NCHROBS": np.full(n, 20_000)}
        )
        paths["frq_tsv"] = os.path.join(out_dir, "frq.tsv")
        frq.to_csv(paths["frq_tsv"], sep="\t", index=False)
    raw_bytes = sum(os.path.getsize(p) for p in paths.values() if p)
    return {**paths, "n_snps": n, "n_removed": int(remove.sum()),
            "quantitative": quantitative, "raw_bytes": raw_bytes}


# -- vector and text corpora (the maintained indexes) ----------------------


EMB_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def embeddings(seed: int, stream: int, ids: np.ndarray, dim: int) -> pd.DataFrame:
    """(vec_id, embedding float32[dim]) with standard-normal components."""
    m = rng(seed, stream).standard_normal((len(ids), dim)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.asarray(ids, dtype=np.int64), "embedding": list(m)})


def documents(seed: int, stream: int, ids: np.ndarray, vocab: int = 400,
              min_len: int = 15, max_len: int = 60) -> pd.DataFrame:
    """(doc_id, text): Zipf-distributed terms `t000`..., 15-60 per doc."""
    r = rng(seed, stream)
    lengths = r.integers(min_len, max_len + 1, len(ids))
    w = 1.0 / np.arange(1, vocab + 1)
    terms = np.char.add("t", np.char.zfill(np.arange(vocab).astype(str), 3))
    tokens = pd.Series(terms[r.choice(vocab, int(lengths.sum()), p=w / w.sum())])
    owner = np.repeat(np.arange(len(ids)), lengths)
    text = tokens.groupby(owner, sort=True).agg(" ".join).values
    return pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64), "text": text})


# -- op-stream helpers -----------------------------------------------------


def stratified_kinds(r: np.random.Generator, mix: dict[str, int], n_ops: int) -> list[str]:
    """Blocks of sum(mix) ops with exact per-kind counts, shuffled inside
    each block, so every prefix of the stream keeps the mix."""
    block = [k for k, c in mix.items() for _ in range(c)]
    out: list[str] = []
    while len(out) < n_ops:
        out.extend(block[i] for i in r.permutation(len(block)))
    return out[:n_ops]


def zipf_anchor(r: np.random.Generator, n: int, hot: int = 64, hot_share: float = 0.7) -> int:
    """Zipf-skewed index into [0, n): a hot set of `hot` loci draws
    `hot_share` of the picks, a uniform cold tail the rest."""
    if r.random() < hot_share:
        ranks = np.arange(1, hot + 1)
        w = 1.0 / ranks
        k = int(r.choice(hot, p=w / w.sum()))
        return int((k * 7919) % n)
    return int(r.integers(0, n))
