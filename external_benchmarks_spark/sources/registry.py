"""Source registry: format-agnostic dataset ingestion.

The reference ingests JSONL (Amazon Reviews category files) and serves
Parquet over HTTPS from a GCS bucket (reference README.md:37-43, the
``wget`` staging step). Spark reads gs:///s3:///https-staged paths with
the same API as local ones, so a dataset spec here is (name, path,
format, options); staging is an operational concern outside the engine.

All formats resolve to ``spark.read`` with schema supplied or inferred;
Parquet is the performance path (columnar, pushdown); JSONL/CSV are
ingest formats that the pipeline immediately rewrites to the parquet
index layout (pipeline/index.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SUPPORTED_FORMATS = ("parquet", "json", "csv", "orc")


@dataclass(frozen=True)
class DatasetSpec:
    name: str
    path: str
    format: str = "parquet"
    schema: StructType | None = None
    options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self):
        if self.format not in SUPPORTED_FORMATS:
            raise ValueError(f"unsupported format {self.format!r}; one of {SUPPORTED_FORMATS}")


def stage_dataset(url: str, dest_dir: str, filename: str | None = None) -> str:
    """Stage a published dataset file to local/shared storage — the
    reference's ``wget`` step (reference README.md:37-43: parquet served
    over HTTPS from a GCS bucket) as an engine helper.

    - ``https://`` / ``http://`` / ``file://`` URLs download via urllib
      with a ``.part`` temp file renamed on success (no torn files for a
      concurrent reader).
    - Already-staged files (same name, same size when the server reports
      Content-Length) are reused — re-staging is a no-op.
    - Plain local paths pass through untouched.

    Scale note: run ONCE against shared storage (NFS/object store), not
    per-executor; executors then read the staged path like any other.
    ``gs://`` / ``s3://`` paths should instead be read directly by Spark
    with the matching filesystem connector on the classpath.
    """
    import os
    import shutil
    import urllib.parse
    import urllib.request

    parsed = urllib.parse.urlparse(url)
    if parsed.scheme in ("", None) or (len(parsed.scheme) == 1 and os.name == "nt"):
        return url  # already a local path
    if parsed.scheme not in ("http", "https", "file"):
        raise ValueError(
            f"stage_dataset handles http(s)/file URLs, got {parsed.scheme!r}; "
            "read gs://s3:// paths directly through spark.read"
        )
    os.makedirs(dest_dir, exist_ok=True)
    name = filename or os.path.basename(parsed.path) or "dataset"
    dest = os.path.join(dest_dir, name)
    with urllib.request.urlopen(url) as resp:
        length = resp.headers.get("Content-Length")
        if (
            os.path.exists(dest)
            and length is not None
            and os.path.getsize(dest) == int(length)
        ):
            return dest
        tmp = dest + ".part"
        with open(tmp, "wb") as f:
            shutil.copyfileobj(resp, f)
    os.replace(tmp, dest)
    return dest


def read_dataset(spark: SparkSession, spec: DatasetSpec) -> DataFrame:
    reader = spark.read.format(spec.format)
    if spec.schema is not None:
        reader = reader.schema(spec.schema)
    elif spec.format == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    for k, v in spec.options.items():
        reader = reader.option(k, v)
    return reader.load(spec.path)


def read_jsonl_permissive(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """JSONL ingest that quarantines malformed lines instead of failing.

    Real ingest corpora always carry some broken records; PERMISSIVE mode
    nulls the data columns and captures the raw line in `_corrupt`, so
    the pipeline can route bad rows to a quarantine sink and keep going
    (count them with `_corrupt IS NOT NULL`). Schema is required — the
    corrupt-record column must be declared in it.

    Caveat (Spark semantics): a query that references ONLY `_corrupt`
    raises; cache the frame or select at least one data column alongside
    it before filtering on corrupt-ness.
    """
    from pyspark.sql.types import StringType, StructField

    if any(f.name == "_corrupt" for f in schema.fields):
        full = schema  # caller already declared the corrupt-record column
    else:
        full = StructType(
            list(schema.fields) + [StructField("_corrupt", StringType())]
        )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
