"""Seeded input generator for the benchmark.

Everything a workload reads is made here from ``--seed``: the raw
product files (gzipped JSONL in ``ingest.RAW_META_SCHEMA`` shape, one
file per source dataset), the malformed lines injected into them, the
query sample and the four filter templates.

Scale is the reference's ``benchmark_10k`` (9,000 products). Text
lengths follow its 10k report (mean ``combined_text`` about 1,311
chars), because encoder cost grows with text length.

Template row counts are fixed by construction, not left to sampling:
the ``Computers`` rows get an exact (rating_tier, review_volume) quota
table, and malformed lines only ever replace ``Books`` rows. So every
seed gives each template the same candidate-set size, which is the
input property filtered rerank cost depends on.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass, field

import numpy as np

N_LINES = 9_000
SOURCES = (
    "Books",
    "Automotive",
    "Tools_and_Home_Improvement",
    "Electronics",
    "Beauty_and_Personal_Care",
)
# Exact row counts per main_category (reference shares; Books ~41%).
# None is the ~0.7% of rows with no category.
CATEGORY_COUNTS = (
    ("Books", 3_900), ("Automotive", 1_500),
    ("Tools & Home Improvement", 1_170), ("Computers", 450),
    ("All Beauty", 360), ("Garden", 225), ("Toys", 225), ("Music", 180),
    ("Office", 180), ("Pet Supplies", 180), ("Grocery", 135),
    ("Sports", 135), ("Buy a Kindle", 90), ("Baby", 90),
    ("Software", 90), ("Appliances", 27), (None, 63),
)
TIERS = ("excellent", "high", "medium", "low")
VOLUMES = ("few", "moderate", "many", "popular")
TIER_P = (0.46, 0.19, 0.25, 0.10)
VOLUME_P = (0.48, 0.34, 0.13, 0.05)
# (rating_tier, review_volume) quota for the 450 Computers rows; rows =
# TIERS, columns = VOLUMES. sel1 = 90, sel0.1 = 18, sel_min = 10 rows.
COMPUTERS_QUOTA = (
    (96, 60, 30, 10),
    (40, 26, 14, 10),
    (36, 36, 22, 8),
    (20, 20, 12, 10),
)
# rating ranges per tier and rating_number ranges per volume, matching
# pipeline/dataset.py's cut points
TIER_RANGE = {"excellent": (4.5, 5.0), "high": (4.0, 4.4),
              "medium": (3.0, 3.9), "low": (1.0, 2.9)}
VOLUME_RANGE = {"few": (1, 99), "moderate": (100, 999),
                "many": (1_000, 9_999), "popular": (10_000, 300_000)}

# Filter templates: conjunctive IN-lists. sel10 is the reference's
# literal README.md:83 predicate; the other three stand in for its
# average_rating / rating_number ranges (README.md:80-82). At 9,000 rows
# the reference's 0.001% selects nothing, so sel_min keeps 10 rows, and
# sel0.1 (nominally 9 rows) is raised to 18 so it stays broader than
# sel_min.
TEMPLATES = {
    "sel10": {"main_category": ("Computers", "All Beauty", "Buy a Kindle")},
    "sel1": {"main_category": ("Computers",),
             "rating_tier": ("medium", "low"),
             "review_volume": ("moderate", "many")},
    "sel0.1": {"main_category": ("Computers",),
               "rating_tier": ("high", "medium"),
               "review_volume": ("popular",)},
    "sel_min": {"main_category": ("Computers",),
                "rating_tier": ("low",),
                "review_volume": ("popular",)},
}
TEMPLATE_ORDER = ("sel10", "sel1", "sel0.1", "sel_min")

# Integer payload codes: PQ payload columns must be integral
# (operators/quantize.pq_encode casts them to int64).
CAT_CODES = {name: i for i, (name, _n) in enumerate(CATEGORY_COUNTS) if name}
TIER_CODES = {t: i for i, t in enumerate(TIERS)}
VOLUME_CODES = {v: i for i, v in enumerate(VOLUMES)}
PAYLOAD = (
    ("cat_code", "main_category", CAT_CODES),
    ("tier_code", "rating_tier", TIER_CODES),
    ("vol_code", "review_volume", VOLUME_CODES),
)


def template_codes(name: str) -> dict[str, list[int]]:
    """A template as ``PQServingIndex.topk_rerank(where=...)`` takes it."""
    out = {}
    for code_col, col, codes in PAYLOAD:
        if col in TEMPLATES[name]:
            out[code_col] = sorted(codes[v] for v in TEMPLATES[name][col])
    return out


def template_sql(name: str) -> str:
    """The same template as a Spark SQL predicate over the code columns."""
    return " AND ".join(
        f"`{c}` IN ({', '.join(str(v) for v in vals)})"
        for c, vals in template_codes(name).items()
    )


def _make_vocab(rng: np.random.Generator, n: int) -> list[str]:
    syll = np.array(["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "xi",
                     "zu", "pra", "gle", "tor", "win", "dex", "ban"])
    lens = rng.integers(2, 4, size=n)
    parts = rng.integers(0, len(syll), size=(n, 3))
    return ["".join(syll[parts[i, : lens[i]]]) for i in range(n)]


@dataclass
class Dataset:
    """The generated inputs. ``rows`` holds the valid products (the
    malformed lines are not among them), in ``vec_id`` order."""

    seed: int
    root: str
    files: dict[str, str]
    rows: list[dict]
    n_malformed: int
    query_ids: np.ndarray
    # per source file: (valid records, malformed lines)
    per_file: dict[str, tuple[int, int]] = field(default_factory=dict)

    @property
    def n_valid(self) -> int:
        return len(self.rows)


def vec_id_of(parent_asin: str) -> int:
    return int(parent_asin[1:])


def generate(seed: int, root: str, n_queries: int = 64) -> Dataset:
    """Write the raw files under ``root`` and return the dataset."""
    rng = np.random.default_rng(seed)
    vocab = _make_vocab(rng, 3_000)
    # category-specific word pools, so rows of one category share words
    cats = [c for c, n in CATEGORY_COUNTS for _ in range(n)]
    assert len(cats) == N_LINES
    cats = [cats[i] for i in rng.permutation(N_LINES)]
    tiers = rng.choice(len(TIERS), size=N_LINES, p=TIER_P)
    vols = rng.choice(len(VOLUMES), size=N_LINES, p=VOLUME_P)
    comp = [i for i, c in enumerate(cats) if c == "Computers"]
    cells = [(t, v) for t in range(4) for v in range(4)
             for _ in range(COMPUTERS_QUOTA[t][v])]
    for i, (t, v) in zip(comp, (cells[j] for j in rng.permutation(len(cells)))):
        tiers[i], vols[i] = t, v

    books = [i for i, c in enumerate(cats) if c == "Books"]
    n_bad = int(rng.integers(20, 41))
    bad = set(int(i) for i in rng.choice(books, size=n_bad, replace=False))
    cat_pool = {c: (k * 137) % 2_400 for k, (c, _n) in enumerate(CATEGORY_COUNTS)}

    # Per row, in word counts: title, 2-3 description paragraphs, 3-6
    # features, two category paths, brand, store. All draws are made
    # up front, so the per-row loop only slices and joins.
    n_desc = rng.integers(2, 4, size=N_LINES)
    n_feat = rng.integers(3, 7, size=N_LINES)
    lens = np.concatenate((
        rng.integers(6, 16, size=(N_LINES, 1)),
        rng.integers(30, 80, size=(N_LINES, 3)),
        rng.integers(6, 14, size=(N_LINES, 6)),
        np.tile([2, 2, 1, 1], (N_LINES, 1)),
    ), axis=1)
    lens[:, 1:4] *= np.arange(3) < n_desc[:, None]
    lens[:, 4:10] *= np.arange(6) < n_feat[:, None]
    totals = lens.sum(axis=1)
    pools = np.asarray([cat_pool[c] for c in cats])
    word_ids = rng.integers(0, 600, size=int(totals.sum())) + np.repeat(pools, totals)
    words = [vocab[i] for i in word_ids]
    ends = np.cumsum(lens.ravel()).tolist()
    u = rng.random((N_LINES, 5))
    src_of = rng.integers(0, len(SOURCES), size=N_LINES)

    rows: list[dict] = []
    lines: dict[str, list[str]] = {s: [] for s in SOURCES}
    per_file: dict[str, tuple[int, int]] = {}
    for i in range(N_LINES):
        cat = cats[i]
        tier, vol = TIERS[tiers[i]], VOLUMES[vols[i]]
        lo, hi = TIER_RANGE[tier]
        nlo, nhi = VOLUME_RANGE[vol]
        rating = round(lo + (hi - lo) * float(u[i, 0]), 1)
        rnum = int(np.exp(np.log(nlo) + (np.log(nhi + 1) - np.log(nlo)) * u[i, 1]))
        rnum = min(max(rnum, nlo), nhi)
        base = i * lens.shape[1]
        start = ends[base - 1] if base else 0
        texts = []
        for e in ends[base : base + lens.shape[1]]:
            texts.append(" ".join(words[start:e]))
            start = e
        title = texts[0]
        desc = texts[1 : 1 + n_desc[i]]
        feats = texts[4 : 4 + n_feat[i]]
        cats_path, brand, store = texts[10:12], texts[12], texts[13]
        price = None if u[i, 2] < 0.42 else f"{1 + 499 * float(u[i, 3]):.2f}"
        rec = {
            "parent_asin": f"B{i:09d}",
            "title": title,
            "description": desc,
            "features": feats,
            "average_rating": rating,
            "rating_number": rnum,
            "price": price,
            "main_category": cat,
            "categories": cats_path,
            "store": None if u[i, 4] < 0.026 else f"store {store}",
            "details": {"brand": brand, "weight": None},
        }
        src = SOURCES[src_of[i]]
        line = json.dumps(rec, separators=(",", ":"))
        good, torn = per_file.get(src, (0, 0))
        if i in bad:
            line = line[: len(line) // 2]  # torn record: never valid JSON
            per_file[src] = (good, torn + 1)
        else:
            per_file[src] = (good + 1, torn)
            rows.append({
                "vec_id": i,
                "parent_asin": rec["parent_asin"],
                "title": title,
                "main_category": cat,
                "rating_tier": tier,
                "review_volume": vol,
                "source_dataset": src,
            })
        lines[src].append(line)

    os.makedirs(root, exist_ok=True)
    files = {}
    for src, ls in lines.items():
        path = os.path.join(root, f"meta_{src}.jsonl.gz")
        with gzip.open(path, "wt", compresslevel=1) as fh:
            fh.write("\n".join(ls) + "\n")
        files[src] = path
    qids = np.sort(rng.choice([r["vec_id"] for r in rows], size=n_queries,
                              replace=False))
    return Dataset(seed=seed, root=root, files=files, rows=rows,
                   n_malformed=n_bad, query_ids=qids, per_file=per_file)


def matches(row: dict, name: str) -> bool:
    return all(row[c] in vals for c, vals in TEMPLATES[name].items())
