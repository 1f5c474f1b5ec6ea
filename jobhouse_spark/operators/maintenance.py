"""Table maintenance: small-file compaction with optional sort-based
clustering.

The reference's bronze layer writes one object per extraction batch
(`/root/reference/src/storage/raw_layer.py:30-53`) — at a daily cadence
per source/search that is exactly the small-file sprawl that kills scan
throughput at 100 TB (every file costs a footer read, a task schedule,
and defeats row-group min/max skipping). Compaction rewrites a
directory into ~target-sized files; `sort_by` additionally clusters
rows so parquet column min/max stats become selective (the poor-man's
Z-order for one key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _iter_data_statuses(spark: SparkSession, path: str):
    """Recursive DATA-file statuses under ``path`` via the Hadoop
    FileSystem API (any scheme: file://, hdfs://, s3a://…; unlike
    os.walk, which silently returns nothing for non-local URIs). ONE
    definition of what counts as a data file — underscore/dot-prefixed
    names are metadata — shared by every maintenance operator."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        if not status.getPath().getName().startswith(("_", ".")):
            yield status


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Recursive byte count under ``path`` — a wrong 0 here would make
    compaction coalesce a 100 TB lake into one file.

    ONE py4j call (getContentSummary runs the recursion JVM-side):
    iterating statuses from Python costs a round trip per file, which
    is exactly the many-small-files regime compaction exists for
    (measured ~5 ms/file at 10^5 files — see _list_data_files).
    Includes metadata files (_SUCCESS etc.); those are zero/near-zero
    bytes, and the figure only drives the planned output-file count."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(jpath).getLength())


def plan_compaction(src_bytes: int, target_file_bytes: int) -> int:
    """Number of output files: ceil(size/target), at least 1."""
    return max(1, -(-src_bytes // target_file_bytes))


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    sort_by: str | None = None,
    compression: str = "zstd",
) -> DataFrame:
    """Rewrite ``src`` parquet into ``dst`` as ~``target_file_bytes``
    files; returns the compacted DataFrame (lazy, already written).

    - File count is planned from the *actual* input bytes, so a
      directory of 10k drip-fed bronze files becomes the handful of
      files its data volume warrants.
    - With ``sort_by``: `repartitionByRange` + `sortWithinPartitions`
      gives globally range-clustered files — every file covers a
      disjoint key range, so a point/range predicate prunes to one file
      via parquet min/max stats.
    - Without: `coalesce` avoids a shuffle entirely (pure task merge).
    - zstd: the right codec for cold analytic data (better ratio than
      snappy at comparable scan cost on modern CPUs).
    """
    df = spark.read.parquet(src)
    n_files = plan_compaction(_dir_bytes(spark, src), target_file_bytes)
    if sort_by:
        out = df.repartitionByRange(n_files, sort_by).sortWithinPartitions(sort_by)
    else:
        out = df.coalesce(n_files)
    out.write.mode("overwrite").option("compression", compression).parquet(dst)
    return spark.read.parquet(dst)


def equi_depth_bin(col, boundaries: list[float]):
    """Map a numeric column to its equi-depth bin id (0..len(boundaries))
    given the INTERNAL bin boundaries (len = bins-1, ascending).

    JVM-side: one `aggregate` HOF over a boundary array literal —
    bin = number of boundaries <= value. O(bins) comparisons per row,
    all inside whole-stage codegen; no Python, no join, no window.
    NULLs land in bin 0 (they sort first, same as a plain sort)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    c = F.col(col) if isinstance(col, str) else col
    v = F.coalesce(c.cast("double"), F.lit(float("-inf")))
    return F.aggregate(
        F.array(*[F.lit(float(b)) for b in boundaries]),
        F.lit(0),
        lambda acc, b: acc + F.when(v >= b, 1).otherwise(0),
    )


def zorder_value(bin_cols, bits: int):
    """Interleave the low ``bits`` bits of each bin-id column into one
    Morton (Z-order) value: output bit ``b*n + i`` = bit ``b`` of
    column ``i``. Built from shiftleft/shiftright/bitwiseAND — a pure
    codegen expression tree (bits x n terms), no UDF."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    n = len(bin_cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(bin_cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zorder_compact(
    spark: SparkSession,
    src: str,
    dst: str,
    cols: list[str],
    target_file_bytes: int = 512 * 1024 * 1024,
    bins: int = 256,
    compression: str = "zstd",
) -> DataFrame:
    """Rewrite ``src`` parquet clustered on the Z-order (Morton) curve
    over ``cols`` — the multi-column generalization of
    ``compact_parquet(sort_by=...)``.

    Why: a lexicographic sort on (a, b) gives perfect min/max pruning
    for predicates on ``a`` but none for predicates on ``b`` alone
    (every file spans the full b-range). Interleaving the bits of
    equi-depth bin ids gives every file a small hyper-rectangle of the
    (a, b) space, so single-column predicates on EITHER dimension — and
    conjunctions on both — prune to ~selectivity^(1/n) of the files.
    This is the OPTIMIZE ZORDER operation of the Delta/Iceberg
    playbooks, expressed on plain parquet.

    Scale design: bin boundaries come from one `approxQuantile` pass
    (driver holds bins-1 doubles per column — bounded by the config,
    not the data); bin assignment and bit interleaving are map-only
    codegen expressions; the only shuffle is the `repartitionByRange`
    on the z-value that the rewrite needs anyway. Equi-depth (not
    equi-width) binning keeps the curve balanced under skew — each bin
    holds ~1/bins of the rows regardless of the value distribution.
    """
    if len(cols) < 2:
        raise ValueError("zorder_compact needs >= 2 columns; use sort_by for 1")
    bits = max(1, bins - 1).bit_length()
    if bits * len(cols) > 63:
        # bit 63 is the long's sign bit and shiftleft wraps mod 64 —
        # an over-wide config would SILENTLY destroy the ordering
        # (content checks still pass), so refuse it instead
        raise ValueError(
            f"z-order width {bits} bits x {len(cols)} cols exceeds 63 "
            f"usable long bits — lower bins (max {2 ** (63 // len(cols))}) "
            f"or split the column set"
        )
    df = spark.read.parquet(src)
    if "__z" in df.columns:
        # withColumn would OVERWRITE a user column named __z and the
        # final drop would silently delete it from the rewrite — the
        # "pure rewrite" contract demands a loud refusal instead
        raise ValueError(
            "zorder_compact: source table has a column named '__z', "
            "which collides with the internal z-value column — rename "
            "it before clustering"
        )
    n_files = plan_compaction(_dir_bytes(spark, src), target_file_bytes)
    rel_err = 1.0 / (4 * bins)
    probs = [i / bins for i in range(1, bins)]
    # ONE quantile pass for every column (the list form computes all
    # boundary sets in a single scan — per-column calls would scan the
    # table len(cols) times)
    all_bounds = df.approxQuantile(cols, probs, rel_err)
    bin_exprs = []
    for c, bounds in zip(cols, all_bounds):
        # dedupe (low-cardinality columns repeat boundaries)
        uniq: list[float] = []
        for x in bounds:
            if not uniq or x > uniq[-1]:
                uniq.append(x)
        bin_exprs.append(equi_depth_bin(c, uniq))
    z = zorder_value(bin_exprs, bits).alias("__z")
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.mode("overwrite").option("compression", compression).parquet(dst)
    return spark.read.parquet(dst)


def _glob_escape(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters in a literal file
    path, so `spark.read.parquet(path)` treats it verbatim. Needed
    wherever `input_file_name()` output is fed back into a reader."""
    import re  # noqa: PLC0415

    return re.sub(r"([{}\[\]*?\\])", r"\\\1", path)


def _reader_path(path: str) -> str:
    """Round-trip an `input_file_name()` URI into a string
    `spark.read` resolves to the SAME file (round-12, proven by
    test_manifest_pruned_read_glob_metachar_paths):

    - input_file_name() returns the URI-ENCODED form of the literal
      on-disk path (a hive-escaped dir ``tag=%2A`` comes back as
      ``tag=%252A``), while the reader treats its argument as a RAW
      path and re-encodes — so feeding it back verbatim DOUBLE-encodes
      and fails loudly (PATH_NOT_FOUND). One urllib decode round-trips
      exactly... except %2F: an escaped slash inside a partition value
      must stay ONE path segment, so it is kept encoded.
    - glob metachars that survive in the decoded literal path (e.g. a
      hive value's unescaped ``}``, or raw non-hive filenames) are
      backslash-escaped so the reader's glob layer treats them
      verbatim instead of as patterns — the silent-wrong-partition
      hazard ('[2]' would glob-match '2')."""
    from urllib.parse import unquote  # noqa: PLC0415

    return _glob_escape(unquote(path.replace("%2F", "%252F")))


def _stat_aggs(cols: list[str]):
    """The manifest's stat-column list — ONE definition shared by
    build_manifest and update_manifest, so the update == rebuild
    contract cannot desynchronize on the aggregate set."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return aggs


def build_manifest(spark: SparkSession, root: str, cols: list[str]) -> DataFrame:
    """Per-FILE min/max/count statistics for ``cols`` — the data-skipping
    manifest a table format (Iceberg/Delta) would keep in metadata,
    built on plain parquet with one scan grouped by `input_file_name()`.

    Why at 100 TB: Spark's parquet reader prunes ROW GROUPS after it
    has already listed, scheduled, and footer-read every file; a
    manifest prunes FILES before any of that. One manifest row per
    file (10^5-10^6 rows for a 100 TB table — kilobytes per query to
    scan), rebuilt incrementally per ingest batch in a real deployment.

    Output: (file, n_rows, <c>_min, <c>_max ...), one row per data file.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    df = spark.read.parquet(root)
    return df.groupBy(F.input_file_name().alias("file")).agg(*_stat_aggs(cols))


def manifest_pruned_read(
    spark: SparkSession,
    manifest: DataFrame,
    ranges: dict[str, tuple],
    base_path: str | None = None,
) -> DataFrame:
    """Read ONLY the files whose manifest min/max interval overlaps
    every ``col: (lo, hi)`` range — the planning step of a data-skipping
    table format, on plain parquet.

    The candidate file list is collected driver-side: bounded by FILE
    COUNT (what every table format's planner holds in memory), never
    by row count. Manifest pruning is a SUPERSET filter — like parquet
    row-group skipping — so the exact predicate is re-applied to the
    surviving files; correctness never depends on the stats being
    tight, only on them being true bounds (guaranteed by construction
    in build_manifest).

    ``base_path``: pass the table root when the table is
    hive-PARTITIONED — reading leaf files directly drops the partition
    columns; `option("basePath", root)` restores them so the pruned
    read equals the full scan on every column.

    Returns an empty, correctly-typed DataFrame when nothing survives
    (the schema is read from one listed file, so a manifest gone STALE
    against vanished files raises there — persisted manifests are
    metadata, refresh them with update_manifest after file-level
    changes). An EMPTY manifest is refused: with zero known files the
    data schema is unknowable, and returning an untyped frame would
    push the failure downstream.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    def read(paths):
        reader = spark.read
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        return reader.parquet(*[_reader_path(p) for p in paths])

    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        cond = cond & (F.col(f"{c}_min") <= F.lit(hi)) & (F.col(f"{c}_max") >= F.lit(lo))
    files = [r.file for r in manifest.filter(cond).select("file").collect()]
    pred = F.lit(True)
    for c, (lo, hi) in ranges.items():
        pred = pred & F.col(c).between(F.lit(lo), F.lit(hi))
    if not files:
        # preserve schema: read zero rows through the same reader
        any_file = [r.file for r in manifest.select("file").limit(1).collect()]
        if not any_file:
            raise ValueError(
                "manifest_pruned_read: empty manifest — no files to "
                "derive a schema from (rebuild with build_manifest)"
            )
        return read(any_file).filter(F.lit(False))
    return read(files).filter(pred)


def _list_data_files(spark: SparkSession, root: str) -> list[str]:
    """Recursive data-file URIs under ``root``; URI format matches
    `input_file_name()` exactly (verified in
    tests/test_operators_scale.py), so manifest keys join cleanly.

    Implementation note (round 12, found by an incremental update of
    a 10^5-file table; SCALE.md, "Manifest at 10^5 files"): iterating
    FileStatus objects through py4j costs one JVM round trip per file
    (~5 ms) — 521 s for 100k files, 14x SLOWER than rebuilding the
    manifest from scratch.
    `DataFrame.inputFiles()` runs Spark's own (parallel, JVM-side)
    listing and marshals the whole string array in ONE call; same
    measurement dropped to ~3 s. No data is read — only the FileIndex
    is built."""
    return list(spark.read.parquet(root).inputFiles())


def update_manifest(
    spark: SparkSession, root: str, old_manifest: DataFrame, cols: list[str]
) -> DataFrame:
    """Incremental manifest maintenance: stat ONLY the files that are
    new since ``old_manifest`` was built, drop rows for files that
    vanished (compaction / vacuum), and return the refreshed manifest.
    update ≡ rebuild is pinned in tests/test_operators_scale.py.

    The cost model is the point: a daily ingest batch adds a handful
    of files to a 10^6-file table — the update scans ONLY those files
    (one grouped aggregate over the batch), never the table, the same
    frozen-state append contract as the IVF-PQ index (ann.pq_index_append).
    File-set reconciliation is a driver-side listing + set difference
    over FILE NAMES only (what every planner holds); the manifest's
    STAT ROWS never transit the driver — surviving rows are kept via a
    broadcast left-semi join against the listing (and the join is
    skipped entirely on the common append-only path where nothing
    vanished)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    current = _list_data_files(spark, root)
    cur_set = set(current)
    known = {r.file for r in old_manifest.select("file").collect()}
    new_files = sorted(cur_set - known)
    if known <= cur_set:
        # append-only ingest: every old row survives verbatim
        kept = old_manifest
    else:
        listing = spark.createDataFrame([(f,) for f in sorted(cur_set)], "file string")
        kept = old_manifest.join(F.broadcast(listing), "file", "left_semi")
    if not new_files:
        return kept
    # basePath=root: on a hive-partitioned table a direct leaf-file
    # read would DROP the partition columns and fail (or silently
    # mis-stat) any partition-column entry in ``cols``
    fresh = (
        spark.read.option("basePath", root).parquet(*new_files)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*_stat_aggs(cols))
    )
    return kept.unionByName(fresh)


def vacuum_partitions(
    spark: SparkSession,
    root: str,
    day_col: str,
    cutoff: str,
    value_pattern: str = r"\d{4}-\d{2}-\d{2}",
) -> list[str]:
    """Retention/TTL: delete the partition DIRECTORIES of a
    day-partitioned table whose value sorts strictly below ``cutoff``
    (ISO dates compare lexicographically). Returns the removed values.

    The third leg of the maintenance trio (compact/cluster, manifest,
    vacuum): at 100 TB a retention policy — regulatory or cost — is a
    first-class scheduled operator, and partition-level deletion is
    the only shape that stays O(metadata): no data is read, each day's
    removal is one recursive directory delete.

    Guards:
    - only ``{day_col}=<value>`` directories directly under ``root``
      are considered; anything else (data files at root level, other
      partition columns) is untouched.
    - BOTH the cutoff and every partition value must match
      ``value_pattern`` (default: strict zero-padded ISO date) —
      lexicographic order only equals temporal order when the formats
      agree, so an unpadded value ('2024-9-5'), a differently-shaped
      cutoff, or Hive's ``__HIVE_DEFAULT_PARTITION__`` (null day) is
      REFUSED loudly instead of being compared and possibly deleting a
      partition NEWER than the cutoff. %-escaped values are refused by
      the same check (the incremental_merge emptied-day-clear rule).
    """
    import re  # noqa: PLC0415

    if not re.fullmatch(value_pattern, cutoff):
        raise ValueError(
            f"vacuum cutoff {cutoff!r} does not match value_pattern "
            f"{value_pattern!r} — mixed formats make lexicographic "
            f"order diverge from temporal order"
        )
    jvm = spark._jvm
    jroot = jvm.org.apache.hadoop.fs.Path(root)
    fs = jroot.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = f"{day_col}="
    removed = []
    for status in fs.listStatus(jroot):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        if not name.startswith(prefix):
            continue
        value = name[len(prefix):]
        if not re.fullmatch(value_pattern, value):
            raise ValueError(
                f"vacuum refuses partition value {value!r}: it does not "
                f"match value_pattern {value_pattern!r} (escaped, null "
                f"__HIVE_DEFAULT_PARTITION__, or differently-formatted "
                f"values cannot be safely compared to the cutoff)"
            )
        if value < cutoff:
            fs.delete(status.getPath(), True)
            removed.append(value)
    return sorted(removed)
