"""Sources & sinks — the cDataSource/cDataSink surface (SURVEY.md §2.1).

The reference's IO components are scans/appenders with small option sets;
their Spark equivalents are thin, but the option *semantics* are preserved:

  cCsvSource (/root/reference/src/iocore/csvSource.cpp:43-51): delimiter,
      header auto/yes/no, line range start/end -> csv_source
  cCsvSink (csvSink.cpp:40-53): header, per-frame append, `lag` delayed
      emission, timestamp/index columns -> csv_sink (lag -> drop the last
      `lag` rows per conv: in batch, delayed emission == not-yet-emittable)
  cArffSource (arffSource.cpp) -> arff_source
  cNullSink (nullSink.cpp) -> null_sink (forces evaluation, noop write)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def csv_source(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    header: str = "auto",
    start: int | None = None,
    end: int | None = None,
    schema=None,
    infer_schema: bool | None = None,
) -> DataFrame:
    """CSV scan with the reference's option set. start/end are 0-based line
    ranges (csvSource.cpp:47-48); they imply a file order, so they are
    applied via a monotonic index on a single-file read — a scan-range
    pushdown at the reader level, like the reference."""
    reader = spark.read.option("sep", delimiter)
    if header == "auto":
        reader = reader.option("header", True).option(
            "inferSchema", schema is None if infer_schema is None
            else infer_schema)
    else:
        reader = reader.option("header", header in ("yes", "true", True))
        if infer_schema:
            reader = reader.option("inferSchema", True)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.csv(path)
    if start is not None or end is not None:
        # global line numbers WITHOUT a global single-task window: count
        # rows per scan partition (tiny collect), then number rows inside
        # each partition in parallel and add the partition's offset — the
        # zipWithIndex pattern in DataFrame terms. Two scans of the file,
        # both fully parallel; partition planning is deterministic for a
        # fixed single file, so the two jobs see identical splits.
        d = df.withColumn("__pid", F.spark_partition_id()) \
              .withColumn("__mid", F.monotonically_increasing_id())
        counts = sorted(
            (r["__pid"], r["cnt"]) for r in
            d.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
        )
        offsets, acc = {}, 0
        for pid, cnt in counts:
            offsets[pid] = acc
            acc += cnt
        off = F.coalesce(*[
            F.when(F.col("__pid") == pid, F.lit(o))
            for pid, o in offsets.items()
        ] or [F.lit(0)], F.lit(0))
        w = Window.partitionBy("__pid").orderBy("__mid")
        d = d.withColumn("__line", off + F.row_number().over(w) - 1)
        if start is not None:
            d = d.filter(F.col("__line") >= start)
        if end is not None:
            d = d.filter(F.col("__line") <= end)
        df = d.drop("__line", "__pid", "__mid")
    return df


def csv_sink(
    df: DataFrame,
    path: str,
    header: bool = True,
    lag: int = 0,
    add_index: bool = False,
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
    delimiter: str = ",",
    single_file_order=None,
    mode: str = "overwrite",
) -> None:
    """CSV writer; lag>0 withholds the trailing `lag` frames per conv
    (csvSink.cpp:42 delayed emission); `delimiter` mirrors the
    reference's delimChar option. `single_file_order` (a column tuple)
    coalesces the output to ONE file in that deterministic row order —
    the reference's one-file-with-line-numbers shape, required when a
    downstream csv_source uses line ranges. Scale note: one writer task;
    leave it None for parallel part files."""
    out = df
    if lag > 0:
        w = Window.partitionBy(*partition_cols).orderBy(F.col(order_col).desc())
        out = out.withColumn("__rev", F.row_number().over(w)) \
            .filter(F.col("__rev") > lag).drop("__rev")
    if add_index:
        w = Window.partitionBy(*partition_cols).orderBy(order_col)
        out = out.withColumn("frameIndex", F.row_number().over(w) - 1)
    if single_file_order is not None:
        out = out.repartition(1).sortWithinPartitions(*single_file_order)
    out.write.mode(mode).option("header", header) \
        .option("sep", delimiter).csv(path)


def _parse_arff_attributes(lines) -> list[tuple[str, str]]:
    """@attribute lines -> [(name, 'numeric'|'string')], declaration order."""
    attrs = []
    for ln in lines:
        ln = ln.strip()
        if ln.lower().startswith("@attribute"):
            _, name, typ = ln.split(None, 2)
            attrs.append((name, typ.strip().lower()))
    return attrs


def arff_source(spark: SparkSession, path: str) -> DataFrame:
    """cArffSource (openSMILE src/iocore/arffSource.cpp): read one ARFF
    text file as openSMILE's arffSink or Weka writes it. '@' header
    lines are collected driver-side (small by construction); data lines
    parse distributed via from_csv.

    ARFF `numeric` maps to double (ARFF numeric semantics), everything
    else to string. '%' lines are comments, values may be single-quoted
    (a quoted value may hold commas), and '?' is a missing value."""
    txt = spark.read.text(path)
    meta = F.trim(F.col("value"))
    hdr_lines = [r["value"] for r in
                 txt.filter(meta.startswith("@")).collect()]
    attrs = _parse_arff_attributes(hdr_lines)
    ddl = ", ".join(
        f"`{n}` {'double' if t == 'numeric' else 'string'}"
        for n, t in attrs)
    body = txt.filter(~meta.startswith("@") & ~meta.startswith("%")
                      & (meta != ""))
    parsed = body.select(F.from_csv(
        "value", ddl, {"quote": "'", "nullValue": "?"}).alias("r"))
    return parsed.select(*[F.col(f"r.`{n}`").alias(n) for n, _ in attrs])


def null_sink(df: DataFrame) -> None:
    """Force full evaluation, discard output (cNullSink)."""
    df.write.format("noop").mode("overwrite").save()
