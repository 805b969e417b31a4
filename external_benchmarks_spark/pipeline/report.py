"""Analysis/report pipeline — parity with the reference's
``generate_benchmark_reports.py`` (the third capability surface,
SURVEY.md §0.3).

Every statistic aggregates IN SPARK; only tiny aggregate rows reach the
driver, where markdown/JSON render (the reference materializes whole
datasets on one machine for the 10k path, :65-87 — here the same report
works at any scale). PNG plots render through pipeline/plots.py — a
dependency-free rasterizer over the stdlib PNG writer
(multimodal/codecs.py), covering the reference's figure set
(generate_benchmark_reports.py:312-550) without matplotlib; matplotlib
output can be swapped in where available.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from external_benchmarks_spark.functions.vector import l2_norm
from external_benchmarks_spark.operators import stats as S


def file_size_mb(path: str) -> float:
    """File/dataset size probe (reference get_file_size_mb, :61-63) —
    sums parts when the path is a directory-style parquet dataset."""
    if os.path.isfile(path):
        total = os.path.getsize(path)
    else:
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
        )
    return round(total / (1024 * 1024), 2)


def dataset_report(
    df: DataFrame,
    numeric_cols: list[str],
    cat_cols: list[str],
    text_cols: list[str] = (),
    emb_col: str | None = None,
    path: str | None = None,
    hist_bins: int = 25,
    corr_cols: list[str] | None = None,
    extra_aggs: dict[str, str] | None = None,
) -> dict:
    """Full stats dict mirroring the reference's fast path
    (duckdb_fast_stats, :119-219) + embedding geometry (:243-274).

    TWO Spark jobs regardless of column count (vs the reference's loop of
    one query per column per statistic family, :119-219 — ~30 scans at 10
    columns, which at 100 TB is 30 reads of the table):

    1. ONE ``df.agg`` fusing total count, per-column null counts, every
       numeric column's moments, every text column's length stats, and
       the embedding geometry — a single scan with map-side partial
       aggregation and a one-row shuffle.
    2. ONE explode→groupBy job covering ALL histograms (bucket ids need
       pass 1's min/max) and ALL string categorical columns' value
       counts at once: each row contributes one (group, key) entry per
       column, partial aggregation collapses them before the (tiny)
       shuffle, and a per-group window ranks top-10 / counts distincts
       over the already-aggregated frame. Per-row fan-out is
       #(hist+cat) columns — CPU only, no extra I/O.

    Non-string categorical columns (rare) fall back to the original
    per-column groupBy so raw values round-trip with their types.
    Statistic expressions are shared with operators/stats.py's
    single-statistic forms, so results are bit-identical to the
    per-column path (asserted in tests/test_pipeline.py).
    """
    from pyspark.sql.window import Window

    report: dict = {
        "n_columns": len(df.columns),
        "schema": {f.name: f.dataType.simpleString() for f in df.schema.fields},
    }
    if path is not None:
        report["file_size_mb"] = file_size_mb(path)

    # ---- pass 1: every single-row aggregate in one scan ----------------
    # Built as SQL strings and parsed by ONE selectExpr call: the
    # Column-object form cost ~200 py4j round-trips of driver socket
    # wait per call (guide §4 applied to the driver; the expressions are
    # the same Catalyst tree, results bit-identical — asserted against
    # the per-column operators in tests/test_pipeline.py).
    aggs = ["count(1) AS `__total`"]
    aggs += [
        f"sum(CAST(`{c}` IS NULL AS BIGINT)) AS `__null__{i}`"
        for i, c in enumerate(df.columns)
    ]
    for i, c in enumerate(numeric_cols):
        q = f"`{c}`"
        aggs += [
            f"count({q}) AS `__n_cnt__{i}`",
            f"round(avg({q}), 6) AS `__n_avg__{i}`",
            f"round(min({q}), 6) AS `__n_min__{i}`",
            f"round(max({q}), 6) AS `__n_max__{i}`",
            f"round(stddev_samp({q}), 6) AS `__n_std__{i}`",
            f"count(1) - count({q}) AS `__n_null__{i}`",
        ]
    for i, c in enumerate(text_cols):
        ln = f"length(`{c}`)"  # NULL for NULL text: avg/min/max skip it
        aggs += [
            f"round(avg({ln}), 6) AS `__t_avg__{i}`",
            f"min({ln}) AS `__t_min__{i}`",
            f"max({ln}) AS `__t_max__{i}`",
        ]
    if emb_col and emb_col in df.columns:
        # SQL twin of functions/vector.l2_norm (same fold, same order)
        nrm = (
            f"sqrt(aggregate(transform(`{emb_col}`,"
            " x -> CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x * x))"
        )
        aggs += [
            f"round(avg(size(`{emb_col}`)), 2) AS `__e_dim`",
            f"round(avg({nrm}), 6) AS `__e_mean`",
            f"round(stddev_samp({nrm}), 6) AS `__e_std`",
        ]
    corr_cols = list(corr_cols or [])
    for i, a in enumerate(corr_cols):  # pairwise Pearson, same scan
        for j, b in enumerate(corr_cols[i + 1:], start=i + 1):
            aggs.append(
                f"round(corr(`{a}`, `{b}`), 6) AS `__corr__{i}_{j}`"
            )
    # Caller-supplied single-row aggregates ride the SAME pass-1 scan
    # (guide §1.2: a caller that needs one more aggregate over this
    # frame should not pay a separate job for it). Values come back
    # raw under report["extra"]. Each alias is derived ONCE, here, and
    # both the write below and the read after the collect use it.
    extra = {
        name: (f"__extra__{i}", expr)
        for i, (name, expr) in enumerate((extra_aggs or {}).items())
    }
    aggs += [f"{expr} AS `{alias}`" for alias, expr in extra.values()]
    one = df.selectExpr(*aggs).collect()[0]

    total = one["__total"]
    report = {"total_records": total, **report}
    if extra:
        report["extra"] = {name: one[alias] for name, (alias, _) in extra.items()}
    report["null_counts"] = {
        c: one[f"__null__{i}"] for i, c in enumerate(df.columns)
    }
    report["numeric"] = {
        c: {
            "count": one[f"__n_cnt__{i}"], "mean": one[f"__n_avg__{i}"],
            "min": one[f"__n_min__{i}"], "max": one[f"__n_max__{i}"],
            "std": one[f"__n_std__{i}"], "nulls": one[f"__n_null__{i}"],
        }
        for i, c in enumerate(numeric_cols)
    }
    report["text_lengths"] = {
        c: {
            "avg": one[f"__t_avg__{i}"], "min": one[f"__t_min__{i}"],
            "max": one[f"__t_max__{i}"],
        }
        for i, c in enumerate(text_cols)
    }
    if emb_col and emb_col in df.columns:
        report["embedding"] = {
            "avg_dim": one["__e_dim"], "mean_l2_norm": one["__e_mean"],
            "std_l2_norm": one["__e_std"],
        }
    if corr_cols:
        k = len(corr_cols)
        matrix: list[list[float | None]] = [
            [1.0 if i == j else None for j in range(k)] for i in range(k)
        ]
        for i in range(k):
            for j in range(i + 1, k):
                v = one[f"__corr__{i}_{j}"]
                matrix[i][j] = matrix[j][i] = v
        report["correlation"] = {"cols": corr_cols, "matrix": matrix}

    # ---- pass 2: histograms + categorical value counts, one scan -------
    str_types = {"string", "varchar"}
    fused_cats = [
        c for c in cat_cols
        if df.schema[c].dataType.simpleString() in str_types
    ]
    hist_specs: dict[str, tuple[float, float]] = {}
    for c in numeric_cols:
        s = report["numeric"][c]
        if s["min"] is None or s["max"] is None or s["min"] == s["max"]:
            continue
        hist_specs[c] = (float(s["min"]), float(s["max"]))

    report["categorical"] = {}
    report["histograms"] = {}
    if fused_cats or hist_specs:
        # Same single-parse discipline as pass 1 (one selectExpr call).
        entries = []
        for c in fused_cats:
            entries.append(
                f"named_struct('g', 'c:{c}', 'k', CAST(`{c}` AS STRING))"
            )
        for c, (lo, hi) in hist_specs.items():
            col = f"CAST(`{c}` AS DOUBLE)"
            raw = f"floor(({col} - {lo!r}D) / {(hi - lo) / hist_bins!r}D)"
            bucket = f"CAST(least(greatest({raw}, 0), {hist_bins - 1}) AS BIGINT)"
            entries.append(
                f"CASE WHEN {col} IS NOT NULL THEN named_struct("
                f"'g', 'h:{c}', 'k', CAST({bucket} AS STRING)) END"
            )
        exploded = df.selectExpr(
            "explode(filter(array("
            + ", ".join(entries)
            + "), e -> e IS NOT NULL)) AS e"
        ).select("e.g", "e.k")
        grouped = exploded.groupBy("g", "k").agg(F.count(F.lit(1)).alias("cnt"))
        wg = Window.partitionBy("g")
        rows = (
            grouped.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("g").orderBy(F.desc("cnt"), F.asc("k"))
                ),
            )
            .withColumn(
                "dcnt",
                F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).over(wg),
            )
            .filter(
                F.col("g").startswith("h:")
                | (F.col("g").startswith("c:") & (F.col("rn") <= 10))
            )
            .withColumn(
                "pct", F.round(F.col("cnt") * 100.0 / F.lit(total), 2)
            )
            .collect()
        )
        for c, (lo, hi) in hist_specs.items():
            report["histograms"][c] = {
                "min": lo, "max": hi, "counts": [0] * hist_bins,
            }
        for c in fused_cats:
            report["categorical"][c] = {"unique": 0, "top": []}
        by_rn = sorted(rows, key=lambda r: (r["g"], r["rn"]))
        for r in by_rn:
            kind, c = r["g"].split(":", 1)
            if kind == "h":
                report["histograms"][c]["counts"][int(r["k"])] = int(r["cnt"])
            else:
                cat = report["categorical"][c]
                cat["unique"] = r["dcnt"]
                cat["top"].append(
                    {"value": r["k"], "count": r["cnt"], "pct": r["pct"]}
                )

    # Non-string categorical fallback: per-column groupBy (original path),
    # preserving raw value types in the report.
    for c in cat_cols:
        if c in fused_cats:
            continue
        top = S.group_share_topn(df, c, 10).collect()
        uniq = S.distinct_count(df, c).collect()[0]["distinct_cnt"]
        report["categorical"][c] = {
            "unique": uniq,
            "top": [
                {"value": r[c], "count": r["cnt"], "pct": r["pct"]} for r in top
            ],
        }
    return report


def consistency_check(
    reports: dict[str, dict], numeric_tolerance: float = 0.05
) -> dict:
    """Cross-scale distribution-consistency validation — the reference's QA
    strategy (reports/summary_report.md:42-46; :731-740): numeric means
    must agree within tolerance across scale variants."""
    out: dict = {"consistent": True, "violations": []}
    names = sorted(reports)
    if len(names) < 2:
        return out
    base = reports[names[0]]
    for other_name in names[1:]:
        other = reports[other_name]
        for col, stats in base.get("numeric", {}).items():
            o = other.get("numeric", {}).get(col)
            if not o or stats["mean"] in (None, 0) or o["mean"] is None:
                continue
            drift = abs(o["mean"] - stats["mean"]) / abs(stats["mean"])
            if drift > numeric_tolerance:
                out["consistent"] = False
                out["violations"].append(
                    {"column": col, "scales": [names[0], other_name], "drift": round(drift, 4)}
                )
    return out


def render_markdown(report: dict, title: str) -> str:
    """Markdown rendering mirroring generate_fast_markdown_report (:668-745)."""
    lines = [f"# {title}", "", f"- Total records: {report['total_records']:,}",
             f"- Columns: {report['n_columns']}", "", "## Schema", ""]
    for name, typ in report["schema"].items():
        lines.append(f"- `{name}`: {typ} ({report['null_counts'][name]} nulls)")
    if report.get("numeric"):
        lines += ["", "## Numeric columns", ""]
        for c, s in report["numeric"].items():
            lines.append(
                f"- `{c}`: mean={s['mean']} std={s['std']} min={s['min']} max={s['max']}"
            )
    if report.get("categorical"):
        lines += ["", "## Categorical columns", ""]
        for c, s in report["categorical"].items():
            lines.append(f"- `{c}`: {s['unique']} distinct; top: "
                         + ", ".join(f"{t['value']} ({t['pct']}%)" for t in s["top"][:5]))
    if report.get("text_lengths"):
        lines += ["", "## Text lengths", ""]
        for c, s in report["text_lengths"].items():
            lines.append(f"- `{c}`: avg={s['avg']} min={s['min']} max={s['max']}")
    if report.get("embedding"):
        e = report["embedding"]
        lines += ["", "## Embedding geometry", "",
                  f"- dim={e['avg_dim']} mean_norm={e['mean_l2_norm']} std_norm={e['std_l2_norm']}"]
    return "\n".join(lines) + "\n"


def write_report(
    report: dict, out_dir: str, name: str, figures: bool = True
) -> list[str]:
    """JSON + markdown + (by default) PNG figures. Returns written paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = [os.path.join(out_dir, f"{name}.json"), os.path.join(out_dir, f"{name}.md")]
    with open(paths[0], "w") as f:
        json.dump(report, f, indent=2, default=str)
    with open(paths[1], "w") as f:
        f.write(render_markdown(report, name))
    if figures:
        from external_benchmarks_spark.pipeline.plots import render_report_figures

        paths += render_report_figures(report, out_dir, name)
    return paths
