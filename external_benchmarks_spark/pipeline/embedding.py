"""Batch text embedding — the dominant cost of the reference's dataset
production (README.md:52-55: BAAI/bge-small-en-v1.5, 384 dims per field,
7 fields concatenated to 2,688).

Spark shape: an Arrow-batched pandas UDF so the encoder runs once per
executor and scores whole batches; the ``mapInPandas`` variant keeps it
cached across batches within a task.

Encoder tiers (selected at runtime):

1. ``sentence-transformers`` when importable (import-gated — not in this
   container): the reference's actual model.
2. A local safetensors checkpoint (``pipeline/minilm.MiniLMEncoder``)
   when a checkpoint dir is passed to ``embed_text_udf``/``embed_fields``
   or set via ``$EBS_ENCODER_CKPT`` at UDF-definition time: the real
   model-inference path — weights load ONCE per executor process from
   the public safetensors format and score whole Arrow batches — run as
   pure numpy, so it executes un-skipped in this container
   (tests/test_pipeline.py drives it through the same pandas_udf).
3. ``hashed_ngram_encode`` — a REAL, dependency-free text embedding via
   the feature-hashing trick (char n-gram counts signed-hashed into
   ``dim`` buckets, L2-normalized; the HashingVectorizer construction
   from Weinberger et al., "Feature Hashing for Large Scale Multitask
   Learning", ICML 2009). Deterministic across processes/executors
   (crc32, no Python hash seed), so embeddings are reproducible and
   near-duplicate texts land close in cosine space — real retrieval
   semantics, not a random stand-in.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 384
NGRAM = 3

# The reference's seven embedded fields (README.md:52-55).
EMBED_FIELDS = (
    "title",
    "description",
    "features",
    "combined_text",
    "main_category",
    "categories",
    "store",
)

try:  # pragma: no cover - model not present in this container
    from sentence_transformers import SentenceTransformer  # type: ignore

    _MODEL: SentenceTransformer | None = None

    def _model_encode(texts: pd.Series, dim: int) -> np.ndarray:
        global _MODEL
        if _MODEL is None:
            _MODEL = SentenceTransformer("BAAI/bge-small-en-v1.5")
        out = _MODEL.encode(list(texts.fillna("")), normalize_embeddings=True)
        return np.asarray(out, dtype=np.float32)

    HAVE_MODEL = True
except ImportError:
    HAVE_MODEL = False


# Standard CRC-32 table (poly 0xEDB88320) for the vectorized 3-byte
# path — byte-for-byte the same function zlib.crc32 computes.
_CRC_TABLE = None


def _crc_table() -> "np.ndarray":
    global _CRC_TABLE
    if _CRC_TABLE is None:
        t = np.empty(256, dtype=np.uint32)
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
            t[i] = c
        _CRC_TABLE = t
    return _CRC_TABLE


def _crc32_trigram_windows(data: "bytes | np.ndarray") -> "np.ndarray":
    """crc32 of every 3-byte window of ``data``, fully vectorized:
    three table-gather rounds of the standard byte-at-a-time CRC
    recurrence over strided window views — identical values to
    ``zlib.crc32`` on each window (asserted in tests)."""
    T = _crc_table()
    b = (
        data
        if isinstance(data, np.ndarray)
        else np.frombuffer(data, dtype=np.uint8)
    )
    b0, b1, b2 = b[:-2], b[1:-1], b[2:]
    c = np.uint32(0x00FFFFFF) ^ T[(0xFF ^ b0) & 0xFF]
    c = (c >> np.uint32(8)) ^ T[(c ^ b1) & np.uint32(0xFF)]
    c = (c >> np.uint32(8)) ^ T[(c ^ b2) & np.uint32(0xFF)]
    return c ^ np.uint32(0xFFFFFFFF)


def hashed_ngram_encode(
    texts: "pd.Series | list[str]", dim: int, n: int = NGRAM
) -> np.ndarray:
    """Feature-hashed char n-gram embedding: each n-gram crc32-hashes to a
    bucket in [0, dim) with a ±1 sign bit; counts accumulate and the
    vector is L2-normalized. Empty/whitespace text embeds to the zero
    vector (callers treat it as "no content", same as the reference's
    empty-field handling).

    ASCII text (the overwhelming case) takes a BATCH-vectorized path:
    all rows' bytes concatenate into one buffer, every 3-byte window
    CRC computes in three numpy table gathers, windows crossing a row
    boundary mask out, and ONE segmented bincount over
    ``row*dim + bucket`` accumulates every row's signed counts — zero
    per-row Python in the hot loop (this is the index-build /
    ingest-arc bottleneck: ~1.4M short strings per sf0.1 ingest).
    Non-ASCII or shorter-than-n strings keep the per-gram path; all
    paths produce BIT-identical vectors: the signed counts are exact
    small integers in float64 (order-free), the squared norms are exact
    integer sums below 2^53, so vectorizing changes no rounding
    (asserted input-class by input-class in tests).
    """
    out = np.zeros((len(texts), dim), dtype=np.float32)
    lowered = [(t or "").lower() for t in texts]
    fast_idx: list[int] = []
    slow_idx: list[int] = []
    if n == 3:
        for i, s in enumerate(lowered):
            if not s:
                continue
            (fast_idx if len(s) >= 3 and s.isascii() else slow_idx).append(i)
    else:
        slow_idx = [i for i, s in enumerate(lowered) if s]
    if fast_idx:
        bufs = [lowered[i].encode("utf-8") for i in fast_idx]
        lens = np.fromiter((len(b) for b in bufs), np.int64, len(bufs))
        data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
        row_of = np.repeat(np.arange(len(bufs), dtype=np.int64), lens)
        hs = _crc32_trigram_windows(data)
        # a window is a real trigram only when its first and last byte
        # sit in the same row (every fast row has len >= 3, so every
        # row keeps >= 1 window)
        valid = row_of[:-2] == row_of[2:]
        hs = hs[valid].astype(np.int64)
        wr = row_of[:-2][valid]
        signs = np.where((hs >> 16) & 1, 1.0, -1.0)
        acc = np.bincount(
            wr * dim + hs % dim, weights=signs, minlength=len(bufs) * dim
        ).reshape(len(bufs), dim)
        # exact: acc entries are small integers, acc*acc sums < 2^53
        nrm = np.sqrt((acc * acc).sum(axis=1))
        nz = nrm > 0
        acc[nz] /= nrm[nz, None]
        out[np.asarray(fast_idx)] = acc.astype(np.float32)
    for i in slow_idx:
        s = lowered[i]
        if len(s) < n:
            grams = [s]
        else:
            grams = [s[j : j + n] for j in range(len(s) - n + 1)]
        hs = np.frombuffer(
            b"".join(
                zlib.crc32(g.encode("utf-8")).to_bytes(4, "little")
                for g in grams
            ),
            dtype=np.uint32,
        ).astype(np.int64)
        signs = np.where((hs >> 16) & 1, 1.0, -1.0)
        # weighted bincount = the signed accumulation, one C call (the
        # ±1 weights sum to exact small integers in any order)
        v = np.bincount(hs % dim, weights=signs, minlength=dim)
        nrm = float(np.linalg.norm(v))
        if nrm:
            out[i] = (v / nrm).astype(np.float32)
    return out


_LOCAL_ENCODERS: dict = {}


def _checkpoint_encoder(ckpt_dir: str):
    """Load-once-per-process checkpoint encoder (the same lifecycle as
    the sentence-transformers tier: each executor worker pays the load
    on its first batch, then scores batches from memory)."""
    if ckpt_dir not in _LOCAL_ENCODERS:
        from external_benchmarks_spark.pipeline.minilm import MiniLMEncoder

        _LOCAL_ENCODERS[ckpt_dir] = MiniLMEncoder.load(ckpt_dir)
    return _LOCAL_ENCODERS[ckpt_dir]


def encode_batch(
    texts: "pd.Series", dim: int, ckpt_dir: str | None = None
) -> np.ndarray:
    """One encoder call per Arrow batch: the transformer when available,
    else a local safetensors checkpoint of matching width, else the
    hashed n-gram embedding. Unit-norm float32 every tier."""
    if HAVE_MODEL and dim == DEFAULT_DIM:  # pragma: no cover
        return _model_encode(texts, dim)
    if ckpt_dir:
        enc = _checkpoint_encoder(ckpt_dir)
        if enc.dim != dim:
            # a misconfigured checkpoint must FAIL, not silently produce
            # wrong-tier (hashed-ngram) embeddings of the right width
            raise ValueError(
                f"encoder checkpoint at {ckpt_dir!r} produces dim={enc.dim} "
                f"but dim={dim} was requested; pass a matching checkpoint "
                "or drop ckpt_dir/$EBS_ENCODER_CKPT for the hashed tier"
            )
        return enc.encode(list(pd.Series(texts).fillna("")))
    return hashed_ngram_encode(texts, dim)


def embed_text_udf(dim: int = DEFAULT_DIM, ckpt_dir: str | None = None):
    """Scalar pandas_udf: string column -> unit-norm float vector.

    Arrow batches keep the Python boundary amortized; at 2,688 total dims
    and 10k-row batches this moves ~100 MB/batch, matching the executor
    memory budget in session.py.

    ``ckpt_dir`` (default ``$EBS_ENCODER_CKPT``, resolved HERE at UDF
    definition so the path rides the serialized closure to executors —
    driver-set environment does not propagate to already-running Python
    workers) selects the checkpoint tier of encode_batch.
    """
    import os

    ckpt_dir = ckpt_dir or os.environ.get("EBS_ENCODER_CKPT")

    @F.pandas_udf(ArrayType(FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        mat = encode_batch(texts, dim, ckpt_dir)
        return pd.Series(list(mat))

    return embed


def embed_fields(
    df: DataFrame,
    fields=EMBED_FIELDS,
    dim: int = DEFAULT_DIM,
    ckpt_dir: str | None = None,
) -> DataFrame:
    """Per-field embedding + concatenation (README.md:52-55): each text
    field embeds to ``dim`` floats; the product embedding is their concat
    (so each non-empty field-block is unit-norm => total L2 =
    sqrt(n_nonempty_fields), the invariant the reference reports at
    benchmark_10k/README.md:70)."""
    embed = embed_text_udf(dim, ckpt_dir=ckpt_dir)
    # ONE select appending the concat of the per-field UDF columns —
    # the previous per-field withColumn chain (+ concat + drop) cost a
    # full projection round-trip per field on the driver (guide §4;
    # part of the measured 1.2 s/call py4j wait of the ingest leg).
    # Same plan: Catalyst collapsed the chain to this projection.
    vec_cols = [
        embed(F.coalesce(F.col(f), F.lit(""))) for f in fields if f in df.columns
    ]
    return df.select("*", F.concat(*vec_cols).alias("embedding"))
