"""Arrow-batched Python kernels for the sketch operators.

Why not pure Spark SQL higher-order functions? HOFs (``transform`` /
``aggregate`` / ``zip_with``) are ``CodegenFallback`` — Spark evaluates them
interpreted, and the interpreted eval path allocates through
``scala.reflect.ClassTag`` (a JVM-global ``ClassValue`` lookup). Under
``local[32]`` all task threads contend on that lookup: measured on this box,
the same 500-row SimHash stage takes 9 s on 1 thread and 63 s on 32 threads
(task runTime ≫ cpuTime — threads blocked, not computing). Arrow-batched
pandas UDFs run in separate worker *processes* with numpy-vectorized inner
loops, so they parallelize linearly — the correct 100-TB architecture for
CPU-bound per-row sketching.

Every kernel is bit-compatible with the SQL formulation it replaced (and
with the DuckDB oracle): md5-based 60-bit hashes, int64 universal-hash
permutations, ASCII-``\\s`` tokenization (``re.ASCII`` matches Java regex
``\\s`` exactly, including ``\\x0b``).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import MERSENNE_P, MOD_INPUT, perm_params

_WS = re.compile(r"\s+", re.ASCII)  # Java/RE2 \s parity: ASCII whitespace only


def normalize_py(text: str | None) -> str:
    """Mirror of ``text.normalize_text``: lower + collapse whitespace."""
    if text is None:
        return ""
    return _WS.sub(" ", text.lower()).strip()


def tokens_py(text: str | None) -> list[str]:
    norm = normalize_py(text)
    return norm.split(" ") if norm else []


def shingles_py(toks: list[str], k: int) -> list[str]:
    if len(toks) < k:
        return []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def md5_long_py(s: str) -> int:
    """First 15 md5 hex chars as int64 — identical to Spark
    ``conv(substring(md5(s),1,15),16,10)`` and DuckDB
    ``('0x'||substring(md5(s),1,15))::BIGINT``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _hashes64(strings: list[str]) -> np.ndarray:
    return np.fromiter(
        (md5_long_py(s) for s in strings), dtype=np.int64, count=len(strings)
    )


def minhash_signature_udf(num_perm: int, shingle_k: int) -> Column:
    """Factory: pandas UDF computing the MinHash signature column.

    Permutations vectorize as one (num_perm × n_shingles) int64 matrix op;
    all intermediates < 2^63 (see ``hashing``)."""
    A = np.array([perm_params(i)[0] for i in range(num_perm)], dtype=np.int64)
    B = np.array([perm_params(i)[1] for i in range(num_perm)], dtype=np.int64)
    empty = [-1] * num_perm

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            sh = set(shingles_py(tokens_py(text), shingle_k))
            if not sh:
                out.append(empty)
                continue
            hm = _hashes64(list(sh)) % MOD_INPUT
            mins = ((A[:, None] * hm[None, :] + B[:, None]) % MERSENNE_P).min(axis=1)
            out.append(mins.tolist())
        return pd.Series(out)

    return sig


def minhash_sig_count_udf(num_perm: int, shingle_k: int) -> Column:
    """Factory: one pandas UDF yielding ``struct<sig, n_sh>`` — signature
    and shingle count from a single shingling pass (the LSH pipeline needs
    both; computing them separately re-normalizes and re-shingles every
    document)."""
    A = np.array([perm_params(i)[0] for i in range(num_perm)], dtype=np.int64)
    B = np.array([perm_params(i)[1] for i in range(num_perm)], dtype=np.int64)
    empty = [-1] * num_perm

    @F.pandas_udf("sig array<long>, n_sh int")
    def sig_count(texts: pd.Series) -> pd.DataFrame:
        sigs, counts = [], []
        for text in texts:
            sh = set(shingles_py(tokens_py(text), shingle_k))
            counts.append(len(sh))
            if not sh:
                sigs.append(empty)
                continue
            hm = _hashes64(list(sh)) % MOD_INPUT
            mins = ((A[:, None] * hm[None, :] + B[:, None]) % MERSENNE_P).min(axis=1)
            sigs.append(mins.tolist())
        return pd.DataFrame({"sig": sigs, "n_sh": counts})

    return sig_count


def simhash_udf(bits: int) -> Column:
    """Factory: pandas UDF computing the SimHash fingerprint column (±1
    bit votes over md5 token hashes, sign of the vote sum per bit)."""
    shifts = np.arange(bits, dtype=np.int64)

    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for j, text in enumerate(texts):
            toks = tokens_py(text)
            if not toks:
                continue
            h = _hashes64(toks)
            votes = (((h[:, None] >> shifts[None, :]) & 1) * 2 - 1).sum(axis=0)
            out[j] = int(((votes > 0).astype(np.int64) << shifts).sum())
        return pd.Series(out)

    return sh


def shingle_set_udf(shingle_k: int) -> Column:
    """Factory: pandas UDF producing the distinct shingle set (order not
    semantically meaningful — consumers treat it as a set)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [sorted(set(shingles_py(tokens_py(t), shingle_k))) for t in texts]
        )

    return sh


@F.pandas_udf(T.DoubleType())
def norm_udf(a: pd.Series) -> pd.Series:
    """Vectorized L2 norm over an array column."""
    am = np.vstack([np.asarray(v, dtype=np.float64) for v in a])
    return pd.Series(np.sqrt(np.einsum("ij,ij->i", am, am)))
