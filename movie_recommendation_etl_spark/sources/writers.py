"""Sinks: parquet, CSV, JSON-lines, merge/upsert, ML-model persistence,
JDBC.

The reference's sinks are four unpartitioned ``write.parquet`` calls
(reference transform/execute.py:273-298), an LSH-model save (:283), and a
JDBC writer whose ``mode="append"`` re-inserts on every rerun, violating the
primary key (reference load/execute.py:91 — a semantics bug SURVEY.md §2.1 S7
says to fix, not copy). The Stage T sinks (``pipeline.save_outputs``) are
written unpartitioned, as the reference writes them: no reader in the
product path prunes on their columns. ``write_parquet`` still takes
``partition_by`` for a table whose readers do prune, and the JDBC path
defaults to idempotent overwrite (truncate-and-reload) instead of blind
append.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

# Serializes the outputTimestampType toggle for sessions NOT built by
# session.get_spark (which pins TIMESTAMP_MICROS at build time) — see
# write_sorted_parquet.
_TS_CONF_LOCK = threading.Lock()


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Columnar sink. ``partition_by`` natural keys (event date, year, lang)
    so a 100 TB table prunes to the partitions a query touches;
    ``max_records_per_file`` caps file size so a skewed partition doesn't
    produce one giant unsplittable-row-group file.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    *,
    num_files: int | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
    drop_cols: Sequence[str] | None = None,
) -> None:
    """Parquet sink with a GLOBAL sort layout: range-partition on
    ``sort_cols`` then sort within partitions, so every output file covers a
    disjoint range of the sort key. Parquet min/max column statistics then
    become tight per file/row-group, and any point or range predicate on the
    sort key prunes to the few files whose range overlaps — the zone-map
    pattern that makes a 100 TB time-keyed table answer a one-day query by
    reading ~1/365th of its files (tests/test_sinks_and_readers.py asserts
    the disjoint-range property from the footers).

    Unlike ``orderBy().write`` (same shuffle, but Catalyst may drop the
    ordering on write), repartitionByRange + sortWithinPartitions pins both
    the file-level ranges and the intra-file order. Choose ``num_files``
    from target file size at full scale; skew in the sort key is absorbed by
    the range partitioner's sampling.

    Timestamps are written as TIMESTAMP_MICROS: Spark's INT96 default
    carries NO parquet min/max statistics, which silently voids the footer
    pruning this sink exists to provide — a time-keyed layout whose time
    column cannot prune (found by the r13 zorder --bucket ts:days test;
    the legacy default only matters for pre-Hive-4 readers). Sessions from
    session.get_spark already set the conf at build time, so no toggle
    happens; for a FOREIGN session still on INT96, the sink toggles the
    session-wide conf for the write's duration under a module lock — that
    serializes concurrent write_sorted_parquet calls on such a session,
    but another thread writing through a different code path can still
    observe MICROS (r13 ADVICE: set the conf at session build, as
    get_spark does, to avoid the toggle entirely).
    """
    cols = list(sort_cols)
    out = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    out = out.sortWithinPartitions(*cols)
    if drop_cols:
        # derived sort keys (z-order keys etc.) need not pollute the stored
        # schema; a projection after the sort keeps per-partition order
        out = out.drop(*drop_cols)
    writer = out.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    conf = df.sparkSession.conf
    ts_key = "spark.sql.parquet.outputTimestampType"
    if conf.get(ts_key) == "TIMESTAMP_MICROS":
        # the get_spark default since r14 — no session-wide toggle needed
        writer.parquet(path)
        return
    with _TS_CONF_LOCK:
        prev_ts = conf.get(ts_key)
        conf.set(ts_key, "TIMESTAMP_MICROS")
        try:
            writer.parquet(path)
        finally:
            conf.set(ts_key, prev_ts)


def write_csv(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    header: bool = True,
) -> None:
    """CSV sink with the same quoting dialect read_csv_robust expects
    (reference transform/execute.py:48-57), so write → read round-trips."""
    (
        df.write.mode(mode)
        .option("header", header)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def write_jsonl(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line — the interchange format most
    LLM-corpus tooling consumes). Compression left to the caller's Spark
    conf; at scale prefer parquet and export JSONL only at the edge."""
    df.write.mode(mode).json(path)


_MERGE_STAGING_DIR = "_merge_staging"
_MERGE_JOURNAL_DIR = "_merge_journal"


def _hadoop_fs(spark: SparkSession, path: str):
    """(jvm, fs, qualified root Path) — Hadoop FileSystem API, so the merge
    commit protocol works unchanged on file:/, hdfs:/ and s3a:/ (same
    pattern as operators/sketches._latest_store_version)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, fs.makeQualified(p)


def write_local_rows_parquet(
    spark: SparkSession,
    rows: list,
    schema,
    path: str,
    *,
    mode: str = "errorifexists",
) -> None:
    """ONE-file parquet from a SMALL driver-side row list (sketch
    summaries, codebooks, BPE merges). The obvious spelling —
    ``createDataFrame(rows).coalesce(1).write`` — parallelizes the list
    into defaultParallelism partitions and then pulls ALL of them through
    a single task SERIALLY, each near-empty partition paying its own
    Python-worker round-trip: measured ~4.5 s of pure scheduling for a
    32-row frame on local[32], on EVERY call (r14 — this was most of the
    incremental_admit bench regression). Parallelizing to a single slice
    up front writes the same single file in ~0.4 s."""
    rdd = spark.sparkContext.parallelize(rows, 1)
    spark.createDataFrame(rdd, schema).write.mode(mode).parquet(path)


def _journal_file(jvm, vdir: str):
    return jvm.org.apache.hadoop.fs.Path(f"{vdir}/journal.json")


def _write_merge_journal(
    spark: SparkSession, table_path: str, n: int, entries: list[tuple]
) -> None:
    """Commit the delete+move plan under ``_merge_journal/v_<n>/`` as a
    driver-written JSON file plus an explicit ``_SUCCESS`` marker — the
    commit POINT is the marker's (atomic) creation. Driver-side FS writes,
    no Spark job: the journal is bounded by touched FILE count, and a
    32-row parquet write through the JVM costs ~100x the payload in
    scheduling (see write_local_rows_parquet)."""
    import json

    jvm, fs, root = _hadoop_fs(spark, table_path)
    vdir = f"{root.toString()}/{_MERGE_JOURNAL_DIR}/v_{n}"
    out = fs.create(_journal_file(jvm, vdir), True)
    try:
        out.write(bytearray(json.dumps(entries).encode()))
    finally:
        out.close()
    # marker LAST: its existence == journal committed
    fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{vdir}/_SUCCESS"), True
    ).close()


def _read_merge_journal(spark: SparkSession, vdir: str) -> list[tuple]:
    import json

    jvm, fs, _root = _hadoop_fs(spark, vdir)
    stream = fs.open(_journal_file(jvm, vdir))
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return [tuple(e) for e in json.loads(data.decode())]


def _latest_journal(spark: SparkSession, table_path: str) -> tuple[str | None, int]:
    """(highest COMMITTED ``_merge_journal/v_<n>`` path or None, max n seen
    committed or not). Committed = Spark's own ``_SUCCESS`` marker — the
    same convention as the sketch stores' versioned commits."""
    jvm, fs, root = _hadoop_fs(spark, table_path)
    jroot = jvm.org.apache.hadoop.fs.Path(root, _MERGE_JOURNAL_DIR)
    if not fs.exists(jroot):
        return None, 0
    best, best_n, max_n = None, 0, 0
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v_")):
            continue
        try:
            n = int(name[2:])
        except ValueError:
            continue
        max_n = max(max_n, n)
        if n > best_n and fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        ):
            best, best_n = st.getPath().toString(), n
    return best, max_n


def _apply_merge_journal(
    spark: SparkSession, table_path: str, entries: list[tuple]
) -> None:
    """Execute (or idempotently REPLAY) a committed merge journal: delete
    the superseded files, move the staged files into place, then retire the
    journal and staging area. Safe to re-run from any crash point because
    the delete set and the move destinations are disjoint (staged files
    carry fresh job-UUID names): a delete of an already-deleted file
    no-ops, a move whose source already moved is skipped. Only after every
    entry is applied are the journal and staging dirs removed — their
    removal IS the "merge fully applied" marker."""
    jvm, fs, root = _hadoop_fs(spark, table_path)
    P = jvm.org.apache.hadoop.fs.Path
    for op, src, _dst in entries:
        if op == "delete":
            fs.delete(P(src), True)  # False (missing) is fine on replay
    for op, src, dst in entries:
        if op != "move":
            continue
        s, d = P(src), P(dst)
        if fs.exists(s):
            fs.mkdirs(d.getParent())
            if not fs.rename(s, d):
                raise IOError(
                    f"merge journal apply: rename {src} -> {dst} failed"
                )
        elif not fs.exists(d):
            raise IOError(
                f"merge journal apply: {src} and {dst} both missing — "
                "staged data lost; restore from staging backup"
            )
    # best-effort: partition dirs the merge emptied (every old file deleted,
    # no staged file moved in — e.g. a key migrated out) are removed so
    # stale directory levels don't linger; a crash here only leaves an
    # EMPTY dir, which parquet discovery ignores
    old_dirs = {
        str(P(src).getParent()) for op, src, _ in entries if op == "delete"
    }
    new_dirs = {
        str(P(dst).getParent()) for op, _, dst in entries if op == "move"
    }
    for dname in sorted(old_dirs - new_dirs):
        dp = P(dname)
        if str(fs.makeQualified(dp)) == str(root):
            continue  # unpartitioned table root: never delete
        try:
            if len(fs.listStatus(dp)) == 0:
                fs.delete(dp, True)
        except Exception:
            pass  # cleanup only
    fs.delete(P(root, _MERGE_JOURNAL_DIR), True)
    fs.delete(P(root, _MERGE_STAGING_DIR), True)


def recover_pending_merge(
    spark: SparkSession, path: str, *, purge: bool = False
) -> bool:
    """Complete a ``merge_upsert_parquet`` commit a crash interrupted.

    A COMMITTED journal (``_merge_journal/v_<n>/`` carrying ``_SUCCESS``)
    means the merged output is fully staged and the delete+move plan is
    durable — replay it to convergence. No committed journal means the
    crash happened BEFORE the commit point: the table proper was never
    touched (staging and journal live in underscore-prefixed dirs parquet
    discovery ignores), so readers see the pre-merge state intact and the
    leftovers are garbage. That garbage is removed only with ``purge=True``
    (the merge path, which owns the documented single-writer lock); plain
    readers must not delete a live writer's staging.

    Returns True when a pending merge was applied. Runs automatically at
    the start of every merge, from the admission stores' read path
    (operators/incremental_dedup._read_store) and before compaction."""
    jvm, fs, root = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    has_journal = fs.exists(P(root, _MERGE_JOURNAL_DIR))
    has_staging = fs.exists(P(root, _MERGE_STAGING_DIR))
    if not has_journal and not has_staging:
        return False
    vpath, _max_n = _latest_journal(spark, path)
    if vpath is None:
        if purge:
            fs.delete(P(root, _MERGE_JOURNAL_DIR), True)
            fs.delete(P(root, _MERGE_STAGING_DIR), True)
        return False
    entries = _read_merge_journal(spark, vpath)  # bounded: file count
    _apply_merge_journal(spark, path, entries)
    return True


def _touched_partition_files(
    spark: SparkSession,
    existing: DataFrame,
    table_path: str,
    partition_by: Sequence[str] | None,
    touched: list[tuple] | None,
) -> list[str]:
    """The exact data files the merge supersedes (the journal's delete
    set). Partitioned tables: an FS listing of each touched partition
    directory — names built with Spark's OWN escapePathName so the lookup
    can never drift from what Spark wrote; values outside the str/int fast
    path (timestamps, floats — string-format parity not guaranteed) fall
    back to one ``input_file_name`` job over the pruned existing frame.
    Unpartitioned tables: the root-level data files. Either way the list
    is bounded by touched FILE count, never row count, and it includes
    files appended by external engines (the merge read their rows, so its
    output supersedes them too)."""
    jvm, fs, root = _hadoop_fs(spark, table_path)
    P = jvm.org.apache.hadoop.fs.Path

    def _data_files(dir_path) -> list[str]:
        if not fs.exists(dir_path):
            return []
        return [
            st.getPath().toString()
            for st in fs.listStatus(dir_path)
            if st.isFile()
            and not st.getPath().getName().startswith(("_", "."))
        ]

    if not partition_by:
        return _data_files(root)
    assert touched is not None
    simple = all(
        v is None
        or (isinstance(v, (str, int)) and not isinstance(v, bool))
        for t in touched
        for v in t
    )
    if not simple:
        from pyspark.sql import functions as F

        return [
            r[0]
            for r in existing.select(F.input_file_name()).distinct().collect()
        ]
    utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    files: list[str] = []
    for t in touched:
        segs = [
            utils.getPartitionPathString(
                c, "" if v is None else str(v)  # "" -> __HIVE_DEFAULT_...
            )
            for c, v in zip(partition_by, t)
        ]
        files += _data_files(P(root, "/".join(segs)))
    return files


def merge_upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: Sequence[str],
    *,
    order_col: str | None = None,
    partition_by: Sequence[str] | None = None,
    stable_partition_keys: bool = False,
    out_files_per_partition: int | None = None,
) -> None:
    """MERGE (upsert) into a parquet table: rows in ``updates`` replace
    existing rows with the same key; unmatched keys are inserted. Fixes the
    class of bug the reference ships (append-on-rerun violating the PK,
    load/execute.py:91) for the parquet path the way write_jdbc fixes it for
    JDBC.

    Survivor per key is deterministic. With ``order_col`` the greatest
    value wins outright (last-writer-wins by version/event-time — this
    makes merges ORDER-INDEPENDENT: replaying old batches over a newer
    table converges, the property streaming ingestion needs); without it,
    update rows beat existing rows. Exact ties fall to a stable all-column
    fingerprint, so reruns always produce byte-identical tables.

    Schema evolution is align-by-name with null-fill: updates may add
    columns (existing rows read them as NULL) or omit legacy columns
    (preserved on untouched rows; NULL on rows an update replaces, because
    replacement is row-level). Key and partition columns must be present
    on both sides.

    Scale shape: with ``partition_by``, only the partitions the merge can
    affect are read, merged, and rewritten (staged files renamed in over
    the journal's delete set — dynamic overwrite before r14);
    untouched partitions keep their files. The touched-partition list is
    collected to the driver — bounded by partition count, never row count.
    Without ``partition_by`` the whole table rewrites (correct, but at
    100 TB use a partitioned layout or a table format with transactional
    MERGE; this helper is the Spark-native equivalent for plain parquet).

    Partition migration: if an update changes a key's partition-column
    value, the key's OLD row lives in a partition the updates don't name.
    By default we find those partitions too — one column-pruned scan of the
    existing table's (key, partition) columns, semi-joined against the
    broadcast update keys — merge them, and physically clear any partition
    left with zero surviving rows. Set ``stable_partition_keys=True``
    to skip that scan when partition columns are functionally dependent on
    the key (the common time/tenant layouts): the merge then reads only the
    updates' own partitions, the original r2 fast path.

    CRASH-SAFE COMMIT (r14, extending the sketch stores' versioned
    protocol to the partitioned stores that need it most — the
    doc/embedding admission stores hold lifetime dedup history, and a
    mid-write loss silently re-admits dups): the merged output is written
    to ``_merge_staging/`` (invisible to parquet discovery), then a
    delete+move JOURNAL commits under ``_merge_journal/v_<n>/`` as a
    driver-written JSON plus an explicit ``_SUCCESS`` marker — the commit
    point (no Spark job: see _write_merge_journal), then the journal is applied
    (delete superseded files, rename staged files into place) and retired.
    A crash BEFORE the journal commits leaves the table byte-identical
    (leftovers are purged on the next merge); a crash DURING the apply is
    replayed idempotently by ``recover_pending_merge`` — which runs
    automatically at the start of every merge, on the admission-store read
    path, and before compaction. Because the staging write is no longer a
    self-overwrite, the merge needs NO lineage checkpoint. Renames are
    atomic on file:/ and hdfs:/; on object stores they are copy+delete —
    still crash-consistent (the journal replays), just not O(1); use a
    transactional table format there if rename cost matters. Single
    writer per table, as before.
    """
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W
    from pyspark.sql.utils import AnalysisException

    keys = list(key_cols)
    # finish any crash-interrupted prior merge FIRST (and purge its
    # garbage — this path owns the single-writer lock), so `existing`
    # below reads a fully-applied table
    recover_pending_merge(spark, path, purge=True)
    try:
        existing = spark.read.parquet(path)
    except AnalysisException:
        # bootstrap: no table yet — but the survivor rule still applies
        # WITHIN the updates (duplicate keys in the first batch must not
        # both land; caught by tests/test_merge_property.py)
        existing = spark.createDataFrame([], updates.schema)

    touched: list[tuple] | None = None
    if partition_by:
        touched_df = updates.select(*partition_by).distinct()
        if not stable_partition_keys:
            # partitions a key is migrating OUT of: existing rows whose key
            # appears in the updates but whose partition values may differ.
            # Column-pruned scan (keys + partition cols only) semi-joined
            # against the broadcast update-key set — never a row collect.
            upd_keys = updates.select(*keys).distinct()
            migrated = (
                existing.select(*keys, *partition_by)
                .join(F.broadcast(upd_keys), keys, "left_semi")
                .select(*partition_by)
                .distinct()
            )
            touched_df = touched_df.unionByName(migrated).distinct()
        touched = [tuple(r) for r in touched_df.collect()]
        if not touched:
            return
        has_null_part = any(v is None for t in touched for v in t)
        if len(partition_by) == 1 and not has_null_part:
            # single partition column: isin prunes partitions as one
            # predicate however many values there are (isin never matches
            # NULL — a touched NULL partition takes the general branch)
            existing = existing.filter(
                F.col(partition_by[0]).isin([t[0] for t in touched])
            )
        else:
            # multi-level (or NULL-bearing) partitioning: OR of
            # per-partition conjunctions — size is bounded by
            # touched-partition count, every conjunct is on partition
            # columns so directory pruning applies, and NULL values match
            # via isNull (== NULL never matches; missing a touched NULL
            # partition here would turn the r14 delete set into data loss)
            existing = existing.filter(
                reduce(
                    lambda a, b: a | b,
                    [
                        reduce(
                            lambda a, b: a & b,
                            [
                                F.col(c).isNull()
                                if v is None
                                else F.col(c) == F.lit(v)
                                for c, v in zip(partition_by, t)
                            ],
                        )
                        for t in touched
                    ],
                )
            )
    # Schema evolution, align-by-name with null-fill (r3 VERDICT #4): the
    # output schema is the updates' columns followed by any legacy columns
    # only the existing table has. Existing rows null-fill newly added
    # update columns; update rows null-fill legacy columns (row-level
    # replacement: an update row REPLACES its key's row wholesale, so a
    # column the update doesn't carry is null on that row, not carried
    # over). Key and partition columns must exist on both sides; a column
    # present on both sides with an incompatible type fails loudly in
    # unionByName.
    types = {f.name: f.dataType for f in existing.schema.fields}
    types.update({f.name: f.dataType for f in updates.schema.fields})
    cols = list(updates.columns) + [
        c for c in existing.columns if c not in set(updates.columns)
    ]

    def _aligned(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                F.col(c) if c in have
                else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ]
        )

    tagged = _aligned(updates).withColumn(
        "__is_update", F.lit(1)
    ).unionByName(_aligned(existing).withColumn("__is_update", F.lit(0)))
    # null-robust fingerprint: concat_ws SKIPS nulls, which would let two
    # rows differing only in which column is null collide (nondeterministic
    # survivor); coalesce to a sentinel no real cast-to-string produces
    fp = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in cols
            ],
        )
    )
    # Survivor pick is the r16 min_by aggregate (operators/dedup.py) — a
    # per-key window would funnel a hot merge key (one id updated by the
    # whole batch) into a single sorting task. Falls back to the window
    # form only when order_col's type has no overflow-free descending
    # inversion (e.g. a string version column — rare, and the window
    # semantics there are unchanged from pre-r16). NaN in a float/double
    # order_col ranks FIRST under desc on both paths (the agg form carries
    # an explicit NaN flag, r17 ADVICE fix), so agg and fallback agree.
    from movie_recommendation_etl_spark.operators.dedup import (
        dedup_keep_first,
        desc as dedup_desc,
    )

    specs = (
        [dedup_desc(order_col)] if order_col is not None else []
    ) + [dedup_desc("__is_update"), fp]
    try:
        merged = dedup_keep_first(tagged, keys, specs).drop("__is_update")
    except ValueError:
        order = (
            [F.col(order_col).desc()] if order_col is not None else []
        ) + [F.col("__is_update").desc(), fp]
        w = W.partitionBy(*keys).orderBy(*order)
        merged = (
            tagged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__is_update")
        )
    if partition_by and out_files_per_partition:
        # Bound output files per partition dir: the merge window shuffles by
        # key, so without this every shuffle task writes its own file into
        # every partition dir it holds rows for (up to shuffle.partitions
        # files per dir per merge) and repeated merges fragment the table.
        # Hash-cluster on the partition columns (+ a key-salt when >1 file
        # is wanted for write parallelism on fat partitions) so each dir
        # gets exactly out_files_per_partition files after every merge.
        parts = [F.col(c) for c in partition_by]
        if out_files_per_partition > 1:
            parts.append(
                F.pmod(
                    F.hash(*[F.col(c) for c in keys]),
                    F.lit(out_files_per_partition),
                )
            )
        merged = merged.repartition(*parts)

    # ---- crash-safe commit (see docstring) --------------------------------
    # Delete set: the files the merge supersedes (every data file in the
    # touched partitions / the whole table when unpartitioned) — captured
    # BEFORE anything is written, bounded by file count.
    old_files = _touched_partition_files(
        spark, existing, path, partition_by, touched
    )
    if not old_files:
        # Append-only fast path (bootstrap table, or brand-new partitions):
        # the delete set is empty — no file is superseded — so the staged
        # write + journal + per-file renames buy nothing. Write directly
        # under the table root with Spark's job-level commit. Crash
        # semantics stay safe: the committer keeps in-flight task output
        # under _temporary/ (invisible to discovery); the narrow job-commit
        # window can at worst expose a PREFIX of the new files, and because
        # nothing was superseded, replaying the batch converges — the
        # partial files then belong to touched partitions, so the retry
        # takes the full journaled path and supersedes them. The hazard the
        # journal exists for (losing files of the delete set and silently
        # re-admitting dups) cannot occur with an empty delete set.
        write_parquet(merged, path, partition_by=partition_by, mode="append")
        return
    jvm, fs, root = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    _vp, max_jn = _latest_journal(spark, path)
    staging = f"{root.toString()}/{_MERGE_STAGING_DIR}/s_{max_jn + 1}"
    # The staging write reads the live table it will replace, but into a
    # SEPARATE directory — no self-overwrite, so no lineage checkpoint is
    # needed (the pre-r14 dynamic-overwrite form required one).
    write_parquet(
        merged, staging, partition_by=partition_by, mode="errorifexists"
    )
    # Move plan: every staged data file lands at its same relative path
    # under the table root. Staged file names are job-unique, so the
    # delete set and the move destinations are DISJOINT — the property
    # that makes journal replay idempotent from any crash point.
    moves: list[tuple[str, str]] = []
    base = fs.makeQualified(P(staging)).toString()
    it = fs.listFiles(P(staging), True)
    while it.hasNext():
        src = it.next().getPath().toString()
        rel = src[len(base) + 1 :]
        if rel.rsplit("/", 1)[-1].startswith(("_", ".")):
            continue  # markers/checksums: not data
        moves.append((src, f"{root.toString()}/{rel}"))
    entries = [("delete", f, None) for f in old_files] + [
        ("move", s, d) for s, d in moves
    ]
    # the _SUCCESS inside this version dir is the COMMIT POINT: before it,
    # the table is untouched; after it, recovery replays to the new state
    _write_merge_journal(spark, path, max_jn + 1, entries)
    _apply_merge_journal(spark, path, entries)


def save_model(model, path: str) -> None:
    """Persist a fitted MLlib model (reference transform/execute.py:283)."""
    model.write().overwrite().save(path)


def save_ann_index(index: DataFrame, path: str) -> None:
    """Persist a prepare_index() frame as parquet. It holds exactly the
    three columns load_ann_index reads (id, feature vectors, LSH
    `hashes`), so a serving job cold-starts by reading the index instead
    of re-running tokenize → TF-IDF → LSH transform over the whole
    corpus (~the full fit cost at the reference's 604k docs; the reference
    persists only the model, execute.py:283, and re-transforms on every
    restart). VectorUDT columns round-trip natively — Spark records the UDT
    in the parquet footer schema. At 100 TB this is one columnar write of
    the corpus, shardable by any id-range partitioning the caller applies
    first."""
    index.write.mode("overwrite").parquet(path)


def append_ann_index(
    lsh_model, new_vectors: DataFrame, path: str, id_col: str = "id"
) -> None:
    """Incremental index maintenance: LSH-hash ONLY the new batch through
    the frozen model and append its files to the persisted index — the
    production ingest loop at scale (O(batch) work per admission; nothing
    existing is rewritten, and no model is refit, so existing vectors and
    neighbors are byte-stable). Pair with
    ml.tfidf.transform_document_vectors to vectorize the raw new docs with
    the frozen vocabulary first. Parquet append only adds files; the next
    load_ann_index reads them all as one dataset, so the batch is written
    as the same three columns prepare_index keeps (id, features,
    hashes)."""
    new_vectors = new_vectors.select(id_col, lsh_model.getInputCol())
    lsh_model.transform(new_vectors).write.mode("append").parquet(path)


def load_ann_index(
    spark, path: str, id_col: str = "id", features_col: str = "norm_features"
):
    """Load a save_ann_index() parquet (appended files included) into the
    driver as an ``ml.ann.LshIndex``: the id column, the features as CSR
    arrays and as per-term postings, and the stored LSH bucket values.
    Only those three columns are read, which is all an index holds;
    indexes saved with every column of the vector frame load the same. The
    files are read once with pyarrow; no Spark job runs and nothing is
    cached in the JVM (``spark`` is unused, kept for the loader
    signature). ml.ann.recommend then answers each request in this
    process, touching only the postings of the query's terms. Measured:
    ≈1.3 kB of driver memory per doc (≈31 B per stored nonzero, 12 of
    them for the postings) and ≈23 ns per query posting per request,
    i.e. ≈780 MB and ≈50 ms per request at the reference's 604k docs (the
    ml.ann module docstring has the breakdown). The load itself grows
    somewhat faster than the corpus, because building the postings sorts
    every nonzero by term: ≈36 ms at 7.7k docs, 0.15 s at 4x that and
    0.75 s at 16x (123k docs), so expect ≈4–5 s at 604k docs before the
    first request. Each request in flight also allocates ≈3.4 bytes per
    stored nonzero (≈85 MB at 604k docs), so size the driver for the
    number of concurrent requests too. For a corpus past what the driver holds,
    pass the prepare_index() frame to recommend instead.

    Raises ValueError when the parquet lacks ``id_col``, ``features_col``
    or ``hashes`` (an index saved without prepare_index has no hashes)."""
    import pyarrow.dataset as ds

    from movie_recommendation_etl_spark.ml.ann import LshIndex

    data = ds.dataset(path, format="parquet")
    names = data.schema.names
    missing = [c for c in (id_col, features_col, "hashes") if c not in names]
    if missing:
        raise ValueError(
            f"{path} is not an ANN index: no column(s) {missing}; save the "
            "prepare_index() frame with save_ann_index"
        )
    return LshIndex(
        data.to_table(columns=[id_col, features_col, "hashes"]),
        id_col,
        features_col,
    )


def load_lsh_model(path: str):
    """Load a persisted BucketedRandomProjectionLSH model (reference
    notebook transform/execute.ipynb:1563)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSHModel

    return BucketedRandomProjectionLSHModel.load(path)


def load_logreg_model(path: str):
    """Load a persisted LogisticRegressionModel — the quality-classifier
    artifact operators/quality_model.py fits and save_model writes. At
    serve time only its ~6 coefficients are read (scoring_expr bakes them
    into the plan); no MLlib transform runs in the scan."""
    from pyspark.ml.classification import LogisticRegressionModel

    return LogisticRegressionModel.load(path)


def jdbc_array_column_types(schema) -> str | None:
    """The ``createTableColumnTypes`` option value covering every ARRAY
    column of ``schema`` (Postgres array DDL, e.g. ``tags TEXT[]`` — the
    reference's hand-written column at load/execute.py:54). Spark's JDBC
    writer has no default mapping for ArrayType, so without this option a
    CREATE TABLE on write fails; with it, array columns land as real
    Postgres arrays. Returns None when the schema has no arrays (pass
    nothing — an empty option string is a parse error). Exact-string
    asserted in tests/test_sinks_and_readers.py; executable only against an
    array-capable store (Derby has none — environmental, SURVEY §2.1 S7).
    """
    from pyspark.sql import types as T

    from movie_recommendation_etl_spark.sources.ddl import pg_type

    parts = [
        f"{f.name} {pg_type(f.dataType)}"
        for f in schema.fields
        if isinstance(f.dataType, T.ArrayType)
    ]
    return ", ".join(parts) if parts else None


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
    mode: str = "overwrite",
    truncate: bool = True,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """JDBC sink with idempotent semantics (fixes reference
    load/execute.py:91's append-on-PK bug): default overwrite+truncate keeps
    the external DDL (indexes, grants) while replacing rows. Each write
    partition opens one connection — cap ``num_partitions`` so a wide job
    doesn't exhaust the database's connection limit (SURVEY.md §7 risk).

    Array columns (the reference's ``TEXT[]``) are declared via
    ``createTableColumnTypes`` automatically when present, so a
    create-on-write against Postgres produces real array columns.

    Live-tested against embedded Apache Derby (on Spark's default
    classpath): write → read-back → idempotent re-write, see
    tests/test_sinks_and_readers.py. Against Postgres, pass the reference's
    url/driver (load/execute.py:74-97) — the option surface is identical.
    """
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("driver", driver)
        .option("truncate", truncate)
        .option("batchsize", batchsize)
    )
    array_types = jdbc_array_column_types(df.schema)
    if array_types is not None:
        writer = writer.option("createTableColumnTypes", array_types)
    writer.mode(mode).save()
