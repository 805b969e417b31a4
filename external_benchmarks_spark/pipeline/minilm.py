"""Pure-numpy transformer text encoder loaded from a safetensors
checkpoint — the real model-inference path (checkpoint file -> tensors ->
batched forward pass -> unit-norm embeddings) with no torch dependency.

The reference embeds with ``BAAI/bge-small-en-v1.5`` through
sentence-transformers (reference README.md:52-55); that tier stays
import-gated in pipeline/embedding.py because neither the library nor
the weights ship in this container. What WAS untested until now is the
checkpoint-loading contract itself. This module closes that: a
BERT-style encoder whose weights load from the public safetensors
format (8-byte little-endian header length, JSON header mapping tensor
name -> {dtype, shape, data_offsets}, then one raw byte buffer —
https://github.com/huggingface/safetensors), run as vectorized numpy.
``pipeline/embedding.encode_batch`` selects it whenever a checkpoint
directory is supplied, through the SAME Arrow UDF as the other encoder
tiers, so the executor-side load-once/encode-batches path is exercised
end-to-end in CI (tests/test_pipeline.py).

Architecture (standard pre-LN transformer encoder):
token-embedding + learned positions, then n_layers x
(LN -> multi-head self-attention -> residual; LN -> GELU MLP ->
residual), final LN, masked mean-pool over real tokens, L2 normalize.
Tokenization is lowercase alphanumeric-run splitting against the
checkpoint's own vocab (config.json sidecar), OOV -> [UNK].

Scale shape: encoders load once per executor process and score whole
Arrow batches (matmuls over [batch, seq, dim]); weights are broadcast
by file path, not shipped through the driver.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np

_DTYPES = {"F32": np.float32, "F64": np.float64, "I64": np.int64}
_DTYPE_NAMES = {np.dtype(np.float32): "F32", np.dtype(np.float64): "F64",
                np.dtype(np.int64): "I64"}


def save_safetensors(path: str, tensors: dict[str, np.ndarray]) -> None:
    """Write tensors in the safetensors layout (sorted names, contiguous
    little-endian buffers)."""
    header: dict = {}
    offset = 0
    bufs: list[bytes] = []
    for name in sorted(tensors):
        arr = np.ascontiguousarray(tensors[name])
        raw = arr.astype(arr.dtype.newbyteorder("<"), copy=False).tobytes()
        header[name] = {
            "dtype": _DTYPE_NAMES[arr.dtype],
            "shape": list(arr.shape),
            "data_offsets": [offset, offset + len(raw)],
        }
        offset += len(raw)
        bufs.append(raw)
    hjson = json.dumps(header, sort_keys=True).encode("utf-8")
    with open(path, "wb") as fh:
        fh.write(len(hjson).to_bytes(8, "little"))
        fh.write(hjson)
        for b in bufs:
            fh.write(b)


def load_safetensors(path: str) -> dict[str, np.ndarray]:
    with open(path, "rb") as fh:
        n = int.from_bytes(fh.read(8), "little")
        header = json.loads(fh.read(n).decode("utf-8"))
        buf = fh.read()
    out: dict[str, np.ndarray] = {}
    for name, meta in header.items():
        if name == "__metadata__":
            continue
        lo, hi = meta["data_offsets"]
        arr = np.frombuffer(buf[lo:hi], dtype=_DTYPES[meta["dtype"]])
        out[name] = arr.reshape(meta["shape"]).copy()
    return out


def _gelu(x: np.ndarray) -> np.ndarray:
    return 0.5 * x * (1.0 + np.tanh(0.7978845608028654 * (x + 0.044715 * x**3)))


def _layer_norm(x: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    mu = x.mean(-1, keepdims=True)
    var = x.var(-1, keepdims=True)
    return (x - mu) / np.sqrt(var + 1e-5) * g + b


class MiniLMEncoder:
    """Batched numpy forward pass over a safetensors checkpoint."""

    PAD, UNK = 0, 1

    def __init__(self, weights: dict[str, np.ndarray], config: dict):
        self.w = {k: v.astype(np.float64) for k, v in weights.items()}
        self.vocab: dict[str, int] = config["vocab"]
        self.dim = int(config["dim"])
        self.n_layers = int(config["n_layers"])
        self.n_heads = int(config["n_heads"])
        self.max_len = int(config["max_len"])

    @classmethod
    def load(cls, ckpt_dir: str) -> "MiniLMEncoder":
        with open(os.path.join(ckpt_dir, "config.json")) as fh:
            config = json.load(fh)
        weights = load_safetensors(os.path.join(ckpt_dir, "model.safetensors"))
        return cls(weights, config)

    def _tokenize(self, text: str) -> list[int]:
        toks = re.findall(r"[a-z0-9]+", (text or "").lower())
        ids = [self.vocab.get(t, self.UNK) for t in toks]
        return ids[: self.max_len] or [self.UNK]

    def encode(self, texts, normalize: bool = True) -> np.ndarray:
        ids_list = [self._tokenize(t) for t in texts]
        bsz = len(ids_list)
        seq = max(len(i) for i in ids_list) if ids_list else 1
        ids = np.full((bsz, seq), self.PAD, dtype=np.int64)
        mask = np.zeros((bsz, seq), dtype=np.float64)
        for i, toks in enumerate(ids_list):
            ids[i, : len(toks)] = toks
            mask[i, : len(toks)] = 1.0
        w, h = self.w, self.n_heads
        x = w["tok_emb"][ids] + w["pos_emb"][:seq][None, :, :]
        dh = self.dim // h
        neg = (1.0 - mask)[:, None, None, :] * -1e9  # [b,1,1,s]
        for li in range(self.n_layers):
            p = f"layer{li}."
            hn = _layer_norm(x, w[p + "ln1.g"], w[p + "ln1.b"])
            q = hn @ w[p + "wq"] + w[p + "bq"]
            k = hn @ w[p + "wk"] + w[p + "bk"]
            v = hn @ w[p + "wv"] + w[p + "bv"]
            # [b, heads, seq, dh]
            q = q.reshape(bsz, seq, h, dh).transpose(0, 2, 1, 3)
            k = k.reshape(bsz, seq, h, dh).transpose(0, 2, 1, 3)
            v = v.reshape(bsz, seq, h, dh).transpose(0, 2, 1, 3)
            att = q @ k.transpose(0, 1, 3, 2) / np.sqrt(dh) + neg
            att = att - att.max(-1, keepdims=True)
            att = np.exp(att)
            att = att / att.sum(-1, keepdims=True)
            ctx = (att @ v).transpose(0, 2, 1, 3).reshape(bsz, seq, self.dim)
            x = x + ctx @ w[p + "wo"] + w[p + "bo"]
            hn = _layer_norm(x, w[p + "ln2.g"], w[p + "ln2.b"])
            x = x + _gelu(hn @ w[p + "w1"] + w[p + "b1"]) @ w[p + "w2"] + w[p + "b2"]
        x = _layer_norm(x, w["ln_f.g"], w["ln_f.b"])
        pooled = (x * mask[:, :, None]).sum(1) / np.maximum(
            mask.sum(1, keepdims=True), 1.0
        )
        if normalize:
            nrm = np.linalg.norm(pooled, axis=1, keepdims=True)
            pooled = pooled / np.maximum(nrm, 1e-12)
        return pooled.astype(np.float32)


def make_tiny_checkpoint(
    ckpt_dir: str,
    vocab_words,
    dim: int = 384,
    n_layers: int = 2,
    n_heads: int = 4,
    max_len: int = 64,
    seed: int = 7,
) -> str:
    """Deterministic small-random checkpoint in the real on-disk format
    (model.safetensors + config.json) — the CI fixture that makes the
    checkpoint-loading inference path run un-skipped in this container.
    """
    rng = np.random.default_rng(seed)
    vocab = {"[pad]": 0, "[unk]": 1}
    for wd in vocab_words:
        vocab.setdefault(wd, len(vocab))

    def rnd(*shape):
        return (rng.standard_normal(shape) * 0.05).astype(np.float32)

    tensors: dict[str, np.ndarray] = {
        "tok_emb": rnd(len(vocab), dim),
        "pos_emb": rnd(max_len, dim),
        "ln_f.g": np.ones(dim, dtype=np.float32),
        "ln_f.b": np.zeros(dim, dtype=np.float32),
    }
    for li in range(n_layers):
        p = f"layer{li}."
        tensors.update({
            p + "wq": rnd(dim, dim), p + "bq": np.zeros(dim, np.float32),
            p + "wk": rnd(dim, dim), p + "bk": np.zeros(dim, np.float32),
            p + "wv": rnd(dim, dim), p + "bv": np.zeros(dim, np.float32),
            p + "wo": rnd(dim, dim), p + "bo": np.zeros(dim, np.float32),
            p + "ln1.g": np.ones(dim, np.float32),
            p + "ln1.b": np.zeros(dim, np.float32),
            p + "ln2.g": np.ones(dim, np.float32),
            p + "ln2.b": np.zeros(dim, np.float32),
            p + "w1": rnd(dim, 2 * dim), p + "b1": np.zeros(2 * dim, np.float32),
            p + "w2": rnd(2 * dim, dim), p + "b2": np.zeros(dim, np.float32),
        })
    os.makedirs(ckpt_dir, exist_ok=True)
    save_safetensors(os.path.join(ckpt_dir, "model.safetensors"), tensors)
    with open(os.path.join(ckpt_dir, "config.json"), "w") as fh:
        json.dump(
            {"dim": dim, "n_layers": n_layers, "n_heads": n_heads,
             "max_len": max_len, "vocab": vocab},
            fh,
        )
    return ckpt_dir
