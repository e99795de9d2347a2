"""Tolerant CSV ingestion — SURVEY.md §2.1 S1–S3.

The reference survives messy exports by brute force: encoding retry
``utf-8 → cp1252 → latin1`` (/root/reference/src/etl_pipeline.py:85-111),
a separator × encoding grid search with header detection and positional
column fallback for the price file (:113-161), and an optional-file
path with a default column (:637-672).

Spark translation: the *sniffing* is driver-side logic over a small
sample (one open() of the first file — never a cluster job), and the
*reading* is a normal ``spark.read.csv`` with an explicit dialect +
PERMISSIVE mode, so the 100 TB scan path stays native and parallel.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

DEFAULT_ENCODINGS = ("utf-8", "cp1252", "latin1")
DEFAULT_SEPS = (";", "\t", ",")
NA_VALUES = ["", " ", "NA", "N/A"]  # etl_pipeline.py:98


@dataclass
class CsvDialect:
    sep: str
    encoding: str
    has_header: bool
    first_line: str = ""


def _first_file(path: str) -> str:
    if os.path.isdir(path):
        inner = sorted(
            p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p)
        )
        if inner:
            return inner[0]
    matches = sorted(glob.glob(path))
    return matches[0] if matches else path


def sniff_dialect(
    path: str,
    seps: tuple[str, ...] = DEFAULT_SEPS,
    encodings: tuple[str, ...] = DEFAULT_ENCODINGS,
    sample_bytes: int = 64 * 1024,
) -> CsvDialect:
    """Pick (sep, encoding, header?) from a head sample of the first
    file. Encoding = first that strictly decodes (the reference's
    UnicodeDecodeError retry loop); separator = highest consistent
    per-line count; header = first row has no numeric-looking cells.
    """
    raw = open(_first_file(path), "rb").read(sample_bytes)
    text = None
    encoding = encodings[-1]
    for enc in encodings:
        try:
            text = raw.decode(enc)
            encoding = enc
            break
        except UnicodeDecodeError as e:
            # a fixed-size byte sample can cut a multi-byte character at
            # the very end — that's a truncation artifact, not a wrong
            # encoding: decode the intact prefix instead of falling
            # through to a legacy charset
            if len(raw) == sample_bytes and e.start >= len(raw) - 4:
                text = raw[: e.start].decode(enc)
                encoding = enc
                break
            continue
    if text is None:  # undecodable even as latin1 (can't happen: latin1 total)
        text = raw.decode(encodings[-1], errors="replace")
    lines = [ln for ln in text.splitlines() if ln.strip()][:50]
    if not lines:
        return CsvDialect(seps[0], encoding, True)
    first_line = lines[0]

    def score(sep: str) -> tuple[int, int]:
        counts = [ln.count(sep) for ln in lines]
        consistent = sum(1 for c in counts if c == counts[0] and c > 0)
        return (consistent, counts[0])

    sep = max(seps, key=score)
    if score(sep)[0] == 0:
        sep = seps[0]

    first = lines[0].split(sep)

    def looks_numeric(cell: str) -> bool:
        c = cell.strip().replace(",", ".")
        try:
            float(c)
            return True
        except ValueError:
            return False

    has_header = not any(looks_numeric(c) for c in first if c.strip())
    return CsvDialect(sep, encoding, has_header, first_line)


def read_csv_tolerant(
    spark: SparkSession,
    path: str,
    schema=None,
    expected_cols: list[str] | None = None,
    seps: tuple[str, ...] = DEFAULT_SEPS,
    encodings: tuple[str, ...] = DEFAULT_ENCODINGS,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S1/S2: sniffed-dialect CSV scan.

    - PERMISSIVE + corrupt-record column: bad rows survive as audit
      rows instead of failing the job (the reference's
      on_bad_lines='skip' loses them silently; we keep them).
    - positional fallback: if the file has no header and
      ``expected_cols`` is given, columns are assigned positionally —
      the reference's ``iloc[:, :3]`` + forced names (:139-142).
    """
    # Spark's CSV reader accepts a fixed charset list; cp1252/latin1
    # sniffs map to iso-8859-1 (byte-compatible superset read)
    spark_charsets = {"cp1252": "iso-8859-1", "latin1": "iso-8859-1", "latin-1": "iso-8859-1"}
    d = sniff_dialect(path, seps, encodings)
    d.encoding = spark_charsets.get(d.encoding.lower(), d.encoding)
    if expected_cols:
        # the reference's header probe (etl_pipeline.py:132-139): the
        # file has a header iff an expected column name appears in the
        # first line; otherwise columns are assigned positionally
        d.has_header = any(c in d.first_line for c in expected_cols)
    reader = (
        spark.read.option("sep", d.sep)
        .option("encoding", d.encoding)
        .option("header", d.has_header)
        .option("mode", "PERMISSIVE")
        .option("nullValue", "")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    if expected_cols:
        if d.has_header and all(c in df.columns for c in expected_cols):
            df = df.select(*expected_cols)
        else:
            # positional: first N columns get the expected names
            take = df.columns[: len(expected_cols)]
            df = df.select(
                *[df[c].alias(n) for c, n in zip(take, expected_cols)]
            )
    # normalize the reference's textual NA sentinels to null
    import pyspark.sql.functions as F

    na = {
        c: F.when(F.trim(F.col(c)).isin("", "NA", "N/A"), None).otherwise(F.col(c))
        for c, t in df.dtypes
        if t == "string" and c != corrupt_col
    }
    return df.withColumns(na) if na else df


def read_optional_csv(
    spark: SparkSession,
    path: str,
    required_cols: list[str],
    **kwargs,
) -> DataFrame | None:
    """S3: optional-file scan — None when absent or missing required
    columns (caller substitutes a default, e.g. lit(0) capacity,
    mirroring etl_pipeline.py:645-672)."""
    exists = os.path.exists(path) or bool(glob.glob(path))
    if not exists:
        return None
    df = read_csv_tolerant(spark, path, expected_cols=None, **kwargs)
    if not all(c in df.columns for c in required_cols):
        return None
    return df
