"""DSV import into typed value structs — the parser-driven engine's reader.

Replicates nemo's DSV reader semantics exactly
(``nemo/src/io/formats/dsv/reader.rs`` + ``dsv/value_format.rs``):

- per-column value formats ``any | string | int | double | skip``
- flexible records: rows whose field count differs from the format arity are
  skipped (reference behaviour for missing columns), as are rows where a
  typed format fails to parse (int/double) — error = no fact
- ``quoting=false``: fields are raw delimiter splits, no quote processing
- ``ignore_headers``: drop the first record of each file
- gzip transparently (Spark text source decompresses ``.gz``)

Two decoders over ``spark.read.text`` lines:

- **Catalyst** (no Python worker): when every format is ``int``, ``double``,
  ``string`` or ``skip`` and ``ignore_headers`` is off. Each line splits on
  the literal delimiter; ``int`` cells of the shape ``[+-]?[0-9]{1,18}``
  and ``double`` cells of the decimal/exponent shape are cast, ``string``
  cells pass unchanged, and rows with a non-finite double are skipped (as
  ``Value.double`` does).
- **Python** (Arrow-batched ``mapInPandas`` running a csv-dialect field
  splitter and the ``parse_dsv_*`` value parsers per batch): everything
  else. Header rows are identified scalably via
  ``input_file_name``/``input_file_block_start`` (no driver-side read, no
  global sort). Quoted records with embedded newlines go to the per-file
  ``wholetext`` reader.

One probe job per file picks the decoder. For a Catalyst-eligible format
list it looks for a quote character (when quoting is on) or a right-arity
cell outside its format's shape — such a file goes to the Python reader
unchanged — and, in the same job, for a line with an odd quote count (the
multiline case). Other format lists probe only for the odd quote count.
"""

from __future__ import annotations

import operator
from collections.abc import Iterator
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nemo_spark.model.values import (
    T_DOUBLE,
    T_INT,
    T_STRING,
    VALUE_SCHEMA,
    Value,
    ValueError_,
    parse_dsv_any,
    parse_dsv_double,
    parse_dsv_int,
    parse_dsv_string,
)
from nemo_spark.session import local_frame

_PARSERS = {
    "any": parse_dsv_any,
    "anything": parse_dsv_any,
    "string": parse_dsv_string,
    "int": parse_dsv_int,
    "integer": parse_dsv_int,
    "double": parse_dsv_double,
}

# the cell shapes the Catalyst decoder casts (Java regex, whole cell: \z, not
# $, which also matches before a trailing line terminator such as U+2028).
# 18 digits always fit a bigint; a longer integer, surrounding whitespace,
# non-ASCII digits, nan/inf or a Java-only "1.0d" suffix sends the file to
# the Python parsers, which decide it as nemo does.
_SHAPES = {
    "int": r"^[+-]?[0-9]{1,18}\z",
    "integer": r"^[+-]?[0-9]{1,18}\z",
    "double": r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?\z",
    "string": None,
    "skip": None,
}


def read_dsv_typed(
    spark: SparkSession,
    path: str,
    formats: list[str],
    delimiter: str = ",",
    quoting: bool = True,
    ignore_headers: bool = False,
    multiline: str | bool = "auto",
) -> DataFrame:
    """Read a DSV file into typed value-struct columns c0..c{n-1} (n = number
    of non-skip formats).

    ``multiline``: quoted fields may contain embedded newlines (csv-crate
    semantics — the reference parses them as one record, a line-based scan
    would shred them into two skipped fragments). ``'auto'`` (default)
    probes for an odd-quote-count line and switches to the per-file reader
    only when one exists, so clean data keeps the splittable line path; pass
    ``False`` to skip that check when the data is known single-line, or
    ``True`` to force the per-file reader."""
    import csv as _csv

    keep = [i for i, f in enumerate(formats) if f != "skip"]
    parsers = [(_PARSERS[formats[i]], i) for i in keep]
    total = len(formats)
    out_schema = ", ".join(f"c{j} {VALUE_SCHEMA}" for j in range(len(keep)))

    lines = spark.read.text(path)
    probe_odd = quoting and multiline == "auto"
    whole = quoting and multiline not in (False, "auto")
    catalyst = bool(keep) and not ignore_headers and all(f in _SHAPES for f in formats)
    if not whole and (catalyst or probe_odd):
        fields = F.split(F.col("value"), _literal_regex(delimiter))
        # a record that continues past its line has an ODD number of quote
        # chars on the break line; single-line records always balance
        nq = F.length("value") - F.length(F.replace(F.col("value"), F.lit('"'), F.lit("")))
        odd = nq % 2 == 1
        hit = odd if probe_odd else F.lit(False)
        if catalyst:
            shaped = [
                F.get(fields, i).rlike(_SHAPES[f])
                for i, f in enumerate(formats)
                if _SHAPES[f] is not None
            ]
            if shaped:
                right_arity = (F.col("value") != "") & (F.size(fields) == total)
                hit = hit | (right_arity & ~reduce(operator.and_, shaped))
            if quoting:
                hit = hit | F.col("value").contains('"')
        # ONE job: a top-1 sort scans every partition in a single pass, where
        # limit(1) would scan in growing waves of jobs; odd lines sort first
        first = lines.where(hit).select(odd.alias("odd")).orderBy(F.desc("odd")).limit(1).collect()
        whole = probe_odd and bool(first) and first[0].odd
        if catalyst and not first:
            return _decode_catalyst(lines, fields, formats, total)
    if whole:
        return _read_dsv_whole_files(
            spark, path, parsers, keep, total, delimiter, ignore_headers, out_schema
        )

    src = lines.select(
        "value",
        F.input_file_name().alias("__f"),
        F.input_file_block_start().alias("__o"),
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the header is the first NON-BLANK record (the csv crate skips
        # blank lines before taking the header), so a file starting with a
        # blank line must not burn its header-skip on the blank — the real
        # header row would then import as a fact. `awaiting` arms on the
        # file's offset-0 line and fires on its first non-blank line.
        awaiting: set[str] = set()
        armed: set[str] = set()
        for pdf in batches:
            if pdf.empty:
                continue
            cols: list[list] = [[] for _ in keep]
            for val, fname, off in zip(pdf["value"], pdf["__f"], pdf["__o"]):
                # __o is the file-BLOCK start (same value for every line of
                # the block), so arm once per file, on its first seen line
                if ignore_headers and off == 0 and fname not in armed:
                    armed.add(fname)
                    awaiting.add(fname)
                if val is None or val == "":
                    continue
                if ignore_headers and fname in awaiting:
                    awaiting.discard(fname)
                    continue
                if quoting:
                    try:
                        rec = next(_csv.reader([val], delimiter=delimiter))
                    except (StopIteration, _csv.Error):
                        continue
                else:
                    rec = val.split(delimiter)
                if len(rec) != total:
                    continue  # flexible records: wrong arity => row skipped
                try:
                    vals = [p(rec[i]) for p, i in parsers]
                except ValueError_:
                    continue  # typed format parse error => row skipped
                for c, v in zip(cols, vals):
                    c.append({"t": v.t, "i": v.i, "d": v.d, "s": v.s})
            yield pd.DataFrame({f"c{j}": pd.Series(cols[j], dtype="object") for j in range(len(keep))})

    return src.mapInPandas(parse, schema=out_schema)


def _literal_regex(delimiter: str) -> str:
    # a backslash before any non-alphanumeric character is a literal in Java
    # regex; letters and digits are literals as they stand
    return "".join(c if c.isalnum() else "\\" + c for c in delimiter)


def _decode_catalyst(lines: DataFrame, fields: Column, formats: list[str], total: int) -> DataFrame:
    """The Catalyst decoder, for a file whose probe found no quote character
    and no right-arity cell outside its shape: blank and wrong-arity lines
    drop, shaped cells cast, rows with a non-finite double drop. The result
    has the Python reader's exact schema (nullable structs and fields)."""
    rows = lines.where(F.col("value") != "").select(fields.alias("f")).where(F.size("f") == total)
    values, finite = [], []
    for i, f in enumerate(formats):
        cell = F.get(F.col("f"), i)  # NULL past the end: never throws under ANSI
        if f in ("int", "integer"):
            values.append(F.struct(F.lit(T_INT), cell.cast("bigint"), F.lit(0.0), F.lit("")))
        elif f == "double":
            d = cell.cast("double")  # 1e400 casts to Infinity: no fact
            finite.append(F.abs(d) < F.lit(float("inf")))
            values.append(F.struct(F.lit(T_DOUBLE), F.lit(0), d, F.lit("")))
        elif f == "string":
            values.append(F.struct(F.lit(T_STRING), F.lit(0), F.lit(0.0), cell))
    if finite:
        rows = rows.where(reduce(operator.and_, finite))
    row_type = "struct<" + ", ".join(f"c{j}:{VALUE_SCHEMA}" for j in range(len(values))) + ">"
    # the cast names the fields and types them nullable, as mapInPandas does
    return rows.select(F.struct(*values).cast(row_type).alias("r")).select("r.*")


def _read_dsv_whole_files(
    spark: SparkSession,
    path: str,
    parsers,
    keep,
    total: int,
    delimiter: str,
    ignore_headers: bool,
    out_schema: str,
) -> DataFrame:
    """Per-file csv parse (``wholetext``): the fallback for quoted records
    with embedded newlines. Parallelism is per FILE — exactly the
    reference's sequential-reader granularity — so it only runs when the
    data actually needs it (see read_dsv_typed's multiline probe)."""
    import csv as _csv
    import io as _io

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            cols: list[list] = [[] for _ in keep]
            for text in pdf["value"]:
                first = True
                for rec in _csv.reader(_io.StringIO(text), delimiter=delimiter):
                    if not rec:
                        continue  # blank line — never consumes the header skip
                    is_first, first = first, False
                    if ignore_headers and is_first:
                        continue
                    if len(rec) != total:
                        continue  # flexible records: wrong arity => skipped
                    try:
                        vals = [p(rec[i]) for p, i in parsers]
                    except ValueError_:
                        continue  # typed format parse error => row skipped
                    for c, v in zip(cols, vals):
                        c.append({"t": v.t, "i": v.i, "d": v.d, "s": v.s})
            yield pd.DataFrame({f"c{j}": pd.Series(cols[j], dtype="object") for j in range(len(keep))})

    return spark.read.text(path, wholetext=True).mapInPandas(parse, schema=out_schema)


def typed_rows_df(spark: SparkSession, rows: list[tuple], arity: int) -> DataFrame:
    """DataFrame of typed value structs from driver-side Value tuples,
    handed to the JVM through Arrow (:func:`local_frame`)."""
    schema = ", ".join(f"c{i} {VALUE_SCHEMA}" for i in range(arity))
    data = [tuple(v.as_row() for v in row) for row in rows]
    return local_frame(spark, data, schema)


def empty_typed_df(spark: SparkSession, arity: int) -> DataFrame:
    schema = ", ".join(f"c{i} {VALUE_SCHEMA}" for i in range(max(arity, 1)))
    return local_frame(spark, [], schema)


def peek_field_count(spark: SparkSession, path: str, delimiter: str = ",") -> int:
    """Arity inference for predicates with no declared/derived arity: field
    count of the file's first NON-BLANK record (one tiny Spark job — a
    leading empty line would otherwise infer a zero-column import; nemo's
    csv reader skips blank lines)."""
    import csv as _csv

    first = (
        spark.read.text(path)
        .where(F.length(F.trim(F.col("value"))) > 0)
        .limit(1)
        .collect()
    )
    if not first:
        return 1
    return len(next(_csv.reader([first[0].value], delimiter=delimiter)))
