"""Warehouse build + catalog reconciliation (SURVEY.md §2.1 S6/S7).

The reference rebuilds a DuckDB warehouse nightly: ``CREATE OR REPLACE
TABLE t AS SELECT * FROM '<file>.parquet'`` over a 13-entry file→table map
(create_duckdb.py:65-79, 96-99), then drops tables absent from the map
(create_duckdb.py:82-88). The surrounding ops machinery has Spark twins
too: lock-retry connects (S9, sources/resilience.py) and the Metabase
schema sync (S13, sources/metabase.py).

The reference copies every table because a ``.duckdb`` file is a single
store. Spark's catalog can point a table at parquet where it lies, so the
build runs no Spark job over the rows: each rebuild copies the source's
files byte for byte through the Hadoop FS into the table's next snapshot
version under ``<spark.sql.warehouse.dir>/_snapshots/<db>/<table>/
v_NNNNNNNN`` and re-points the catalog table at it. The only Spark work
left is the parquet schema read of the table creation.

The reference backs the ``.duckdb`` file up before each rebuild and keeps
the newest backup (S8, create_duckdb.py:27-38). Here the build keeps the
previous snapshot version of every table, which
``read_versioned(spark, <root>, version=N - 1)`` reads back.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..functions.sql import sql_ident


def _catalog_name(spark: SparkSession, name: str) -> str:
    """``name`` as the session catalog stores it: lowercased unless
    ``spark.sql.caseSensitive`` is on. Snapshot roots and the reconcile's
    ``keep`` use this form, so ``Fact_Loan`` and ``fact_loan`` are one
    table everywhere."""
    if spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true":
        return name
    return name.lower()


def _table_name(database: str, table: str) -> str:
    return f"{sql_ident(database)}.{sql_ident(table)}"


def _snapshots_base(spark: SparkSession) -> str:
    """``<spark.sql.warehouse.dir>/_snapshots``, FS-qualified. A sibling of
    the managed-table directories, so dropping a managed table of the same
    name never touches a snapshot."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    fs, p, _ = _fs(spark, wh.rstrip("/") + "/_snapshots")
    return fs.makeQualified(p).toString()


def _fill_snapshot(spark: SparkSession, src: str, dst: str) -> None:
    """Copy the files of ``src`` (a directory or a single file) byte for
    byte into the version directory ``dst`` through the Hadoop FS, then
    commit it by writing its _SUCCESS marker last. No Spark job; the copy
    shares nothing with the source, so neither an overwrite of a Spark
    output directory nor an in-place rewrite of a single file (pandas
    truncates the reference's ``data/*.parquet``) reaches the table."""
    fs, s, jvm = _fs(spark, src)
    dfs, d, _ = _fs(spark, dst)
    Path = jvm.org.apache.hadoop.fs.Path
    if dfs.exists(d):           # uncommitted leftover of a crashed build
        dfs.delete(d, True)
    dfs.mkdirs(d)
    st = fs.getFileStatus(s)
    for child in (fs.listStatus(s) if st.isDirectory() else [st]):
        name = child.getPath().getName()
        if name != "_SUCCESS":
            jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, child.getPath(), dfs, Path(d, name), False,
                spark._jsc.hadoopConfiguration())
    dfs.create(Path(d, "_SUCCESS"), False).close()


def build_warehouse(spark: SparkSession, table_map: dict[str, str],
                    *, database: str = "default") -> list[str]:
    """S6 — (re)build catalog tables from a parquet-path → table-name map.

    Per table ≙ CREATE OR REPLACE, without a Spark job over the rows:
    snapshot the source as the table's next version
    (:func:`_fill_snapshot`), drop the old table and create the new one
    over that version (metadata only; the same drop-then-create window
    ``saveAsTable(mode="overwrite")`` has; a Hive-partitioned source has
    its ``key=value`` partitions registered), then prune all but the new
    and the previous version, so a reader that resolved the table before
    the flip keeps reading. Returns the loaded names.
    """
    base = _snapshots_base(spark)
    db = _catalog_name(spark, database)
    loaded = []
    for path, table in table_map.items():
        root = f"{base}/{db}/{_catalog_name(spark, table)}"
        before = list_versions(spark, root)
        _, target = _next_version(root, before)
        _fill_snapshot(spark, path, target)
        name = _table_name(database, table)
        try:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            spark.catalog.createTable(name, path=target, source="parquet")
            # the catalog tracks a partitioned table's partitions and
            # starts with none: without this it reads 0 rows. A listing,
            # not catalog.listColumns, whose iterator runs Spark jobs
            if _hive_partition_subdirs(spark, target):
                spark.catalog.recoverPartitions(name)
        except Exception:
            # e.g. a name the catalog rejects: leave no orphan snapshot
            fs, _, jvm = _fs(spark, root)
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                target if before else root), True)
            raise
        _prune_versions(spark, before, keep_versions=2)
        loaded.append(table)
    return loaded


def build_bucketed(spark: SparkSession, parquet_path: str, table: str, *,
                   bucket_col: str, n_buckets: int = 32,
                   database: str = "default") -> None:
    """Bucketed warehouse table: pre-shuffled on ``bucket_col`` at write
    time, so equi-joins and aggregations on that column between
    same-bucketed tables run WITHOUT a shuffle — the Exchange disappears
    from the plan (pinned by tests). This is the warehouse-side answer to
    "reuse a partitioning across stages": pay the shuffle once at load,
    not per query. At 100 TB, bucket the fact tables on their join key
    (e.g., order key) and size n_buckets to the cluster's parallelism.
    """
    (spark.read.parquet(parquet_path)
     .write.mode("overwrite").format("parquet")
     .bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
     .saveAsTable(_table_name(database, table)))


def reconcile_catalog(spark: SparkSession, keep: set[str],
                      *, database: str = "default") -> list[str]:
    """S7 — drop tables in ``database`` that are not in ``keep``
    (create_duckdb.py:82-88: SHOW TABLES minus the desired map). ``keep``
    is matched the way the catalog normalises names (case-insensitively
    by default). Views and temporary views are left alone. A dropped
    table that :func:`build_warehouse` built also loses its snapshot
    root, so the DROP frees its files as it does in the reference.
    Catalog commands only: no Spark job runs (``catalog.listTables``'s
    iterator would run several)."""
    base = _snapshots_base(spark) + "/"
    keep = {_catalog_name(spark, k) for k in keep}
    dropped = []
    for t in spark.sql(f"SHOW TABLES IN {sql_ident(database)}").collect():
        if t.isTemporary or t.tableName in keep:
            continue
        name = _table_name(database, t.tableName)
        info = {r.col_name: r.data_type for r in spark.sql(
            f"DESCRIBE TABLE EXTENDED {name}").collect()}
        if info.get("Type") == "VIEW":
            continue
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # <base>/<db>/<table>/v_NNNNNNNN → delete <base>/<db>/<table>
        root = info.get("Location", "").rsplit("/", 1)[0]
        if root.startswith(base) and root[len(base):].count("/") == 1:
            fs, p, _ = _fs(spark, root)
            fs.delete(p, True)
        dropped.append(t.tableName)
    return dropped


def dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under ``path`` — one recursive Hadoop
    FS listing (HDFS/S3A/local), no data read."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return 0, 0
    n, total = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            n += 1
            total += st.getLen()
    return n, total


def _hive_partition_subdirs(spark: SparkSession, path: str) -> list[str]:
    """Immediate ``key=value`` child directories of ``path`` (Hive layout)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name and not name.startswith(("_", ".")):
            out.append(st.getPath().toString())
    return out


# ---------------------------------------------------------------------------
# Versioned snapshots: atomic commit for concurrent readers (VERDICT r3 #7)
# ---------------------------------------------------------------------------
# Layout:  <root>/v_00000001/part-*.parquet  (+ Spark's _SUCCESS marker)
#          <root>/v_00000002/...
# A version is COMMITTED iff its _SUCCESS marker exists (Spark's committer
# writes it only after every task of the job has finished). Readers resolve
# "current" = the highest committed version, so a writer crash mid-job
# leaves an ignored orphan directory, never a partial table; a reader
# racing a commit sees the previous version or the new one — the flip is
# the atomic creation of one marker file. This is the minimal manifest
# pattern that table formats (Delta/Iceberg) generalize.

_VERSION_FMT = "v_{:08d}"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def list_versions(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    """[(version, dir)] of COMMITTED versions (ascending)."""
    fs, p, jvm = _fs(spark, root)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v_"):
            try:
                v = int(name[2:])
            except ValueError:
                continue
            if fs.exists(jvm.org.apache.hadoop.fs.Path(
                    st.getPath(), "_SUCCESS")):
                out.append((v, st.getPath().toString()))
    return sorted(out)


def _next_version(root: str, vs: list[tuple[int, str]]) -> tuple[int, str]:
    """(number, directory) of the version after the committed ``vs`` of
    ``root``."""
    n = vs[-1][0] + 1 if vs else 1
    return n, root.rstrip("/") + "/" + _VERSION_FMT.format(n)


def _prune_versions(spark: SparkSession, vs: list[tuple[int, str]], *,
                    keep_versions: int) -> None:
    """After a commit, delete the versions of the PRE-commit list ``vs``
    but its newest ``keep_versions - 1``: with the new version,
    ``keep_versions`` stay. Pruning from the pre-commit list, not a fresh
    listing, means a writer committing in between can never shift the
    kept tail onto (and delete) the version in-flight readers resolve."""
    for _, d in vs[:max(0, len(vs) - keep_versions + 1)]:
        fs, p, _ = _fs(spark, d)
        fs.delete(p, True)


def current_version_dir(spark: SparkSession, root: str) -> str | None:
    vs = list_versions(spark, root)
    return vs[-1][1] if vs else None


def write_versioned(spark: SparkSession, root: str, df,
                    *, partition_by: list[str] | None = None,
                    allow_incompatible: bool = False) -> str:
    """Commit ``df`` as the next snapshot version of ``root``; returns the
    committed directory. Concurrent readers keep resolving the previous
    version until the new one's _SUCCESS marker lands.

    Schema evolution is ADD-ONLY by default: new columns commit freely
    (each version directory carries its own schema; time travel reads an
    old version with the schema it was written under, and
    ``read_versioned(reconcile=True)`` projects it to the current one
    with typed nulls). Dropping a column or changing an existing
    column's type raises — at 100 TB a silent schema drift strands every
    incremental consumer — unless ``allow_incompatible=True`` makes the
    break explicit. The check costs one parquet footer read of the
    current version, no data scan."""
    vs = list_versions(spark, root)
    if vs and not allow_incompatible:
        cur_fields = {f.name: f.dataType.simpleString()
                      for f in spark.read.parquet(vs[-1][1]).schema.fields}
        new_fields = {f.name: f.dataType.simpleString()
                      for f in df.schema.fields}
        dropped = sorted(set(cur_fields) - set(new_fields))
        retyped = sorted(n for n, t in new_fields.items()
                         if n in cur_fields and cur_fields[n] != t)
        if dropped or retyped:
            raise ValueError(
                f"write_versioned: incompatible schema evolution under "
                f"{root} (dropped: {dropped}, retyped: "
                f"{[(n, cur_fields[n], new_fields[n]) for n in retyped]}); "
                f"add-only evolution commits freely — pass "
                f"allow_incompatible=True to break the contract "
                f"explicitly")
    nxt, target = _next_version(root, vs)
    w = df.write.mode("errorifexists").format("parquet")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(target)
    # return the committed dir in the SAME representation list_versions
    # produces (FS-qualified URI), so callers can compare/len-check paths
    committed = {v: d for v, d in list_versions(spark, root)}
    return committed[nxt]


def read_versioned(spark: SparkSession, root: str, *,
                   version: int | None = None,
                   reconcile: bool = False):
    """Read the current committed snapshot — or, with ``version``, a
    SPECIFIC committed version (time travel: any version the pruning
    policy has retained stays readable, a crashed/in-flight one never
    resolves).

    ``reconcile=True`` projects an OLD version to the CURRENT version's
    schema — columns added since that version read as typed nulls, in
    the current column order (unionByName-style reconciliation, the
    read-side half of write_versioned's add-only evolution contract).
    Columns the old version has that the current one lacks cannot exist
    under that contract (a drop requires allow_incompatible) and are
    dropped by the projection if a caller forced one through.

    On the current-version path (``version=None``) the reconciliation
    target IS the version being read, so ``reconcile=True`` is a no-op
    by definition — accepted (callers may pass it unconditionally), not
    silently meaningful (ADVICE r10)."""
    if version is not None:
        vs = dict(list_versions(spark, root))
        if version not in vs:
            raise FileNotFoundError(
                f"version {version} not committed under {root} "
                f"(available: {sorted(vs)})")
        df = spark.read.parquet(vs[version])
        if reconcile:
            from pyspark.sql import functions as F
            cur = current_version_dir(spark, root)
            have = set(df.columns)
            df = df.select(*[
                F.col(f.name) if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in spark.read.parquet(cur).schema.fields])
        return df
    cur = current_version_dir(spark, root)
    if cur is None:
        raise FileNotFoundError(f"no committed version under {root}")
    return spark.read.parquet(cur)


def _content_fp(compare_cols: list[str]):
    """60-bit null-tagged content fingerprint column — the row
    identity-of-content shared by snapshot_changelog and
    replicate_incremental. Each value is prefixed with a presence tag
    so NULL and '' fingerprint differently and ('x', NULL) never
    collides with (NULL, 'x') — concat_ws alone silently DROPS nulls.
    Each present value is additionally LENGTH-PREFIXED so the encoding
    is injective even when values contain the control bytes
    (\\x00/\\x01/\\x1f) themselves: a crawl payload 'x\\x1f\\x01y' next
    to NULL can no longer collide with ('x', 'y...') across the column
    boundary — every field is self-delimiting (ADVICE r6). The
    resulting column is never null."""
    from pyspark.sql import functions as F

    from ..functions.hashing import md5_long
    tagged = []
    for c in compare_cols:
        s = F.col(c).cast("string")
        tagged.append(
            F.when(F.col(c).isNull(), F.lit("\x00"))
            .otherwise(F.concat(F.lit("\x01"), F.length(s).cast("string"),
                                F.lit(":"), s)))
    return md5_long(F.concat_ws("\x1f", *tagged))


def snapshot_changelog(spark: SparkSession, root: str, *,
                       id_col: str, compare_cols: list[str],
                       v_old: int | None = None,
                       v_new: int | None = None):
    """Changelog between two committed versions of a versioned table:
    one row per added / removed / changed id (the x64 snapshot-diff
    semantics over the warehouse's own time-travel surface — what an
    incremental consumer processes instead of re-reading the snapshot).

    ``compare_cols`` define row identity-of-content: each side collapses
    to (id, 60-bit md5 fingerprint over the null-tagged, unit-separator-
    joined columns) before the FULL OUTER join, so wide columns never
    shuffle. NULL and empty string fingerprint differently (each value
    is prefixed with a presence tag — concat_ws alone would silently
    DROP nulls and collide ('x', NULL) with (NULL, 'x')).
    Defaults: v_new = current version, v_old = the one before it.
    Returns (id_col, status) with status in added/removed/changed.

    Precondition: ``id_col`` is unique within each snapshot (the usual
    primary-key contract of a versioned table; write_versioned does not
    enforce it). Duplicate ids fan out through the full-outer join and
    the one-row-per-id contract no longer holds.
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import md5_long

    vs = [v for v, _ in list_versions(spark, root)]
    if len(vs) < 2 and (v_old is None or v_new is None):
        raise ValueError(
            f"snapshot_changelog needs two committed versions under "
            f"{root} (found {vs})")
    v_new = vs[-1] if v_new is None else v_new
    if v_old is None:
        older = [v for v in vs if v < v_new]
        if not older:
            raise ValueError(
                f"snapshot_changelog: no committed version older than "
                f"v_new={v_new} under {root} (available: {vs})")
        v_old = max(older)

    def side(version):
        df = read_versioned(spark, root, version=version)
        # Schema-evolution tolerance: a compare column ADDED after the
        # old version was written fingerprints as null there (\x00
        # presence tag) — so an old row whose new column is still null
        # in v_new reads as unchanged, and one that got a value reads
        # as changed. Exactly the reconcile-with-typed-nulls read.
        missing = [c for c in compare_cols if c not in df.columns]
        if missing:
            df = df.withColumns(
                {c: F.lit(None).cast("string") for c in missing})
        return df.select(F.col(id_col), _content_fp(compare_cols).alias("fp"))

    o = side(v_old).alias("o")
    n = side(v_new).alias("n")
    # null-safe id equality + fp-based presence (fp is never null): a
    # single NULL id behaves like any other key value instead of
    # classifying as simultaneously added and removed
    j = o.join(n, F.col(f"o.{id_col}").eqNullSafe(F.col(f"n.{id_col}")),
               "full_outer")
    return (j.filter(F.col("o.fp").isNull()
                     | F.col("n.fp").isNull()
                     | (F.col("o.fp") != F.col("n.fp")))
            .select(F.when(F.col("o.fp").isNull(), F.col(f"n.{id_col}"))
                    .otherwise(F.col(f"o.{id_col}")).alias(id_col),
                    F.when(F.col("o.fp").isNull(), F.lit("added"))
                    .when(F.col("n.fp").isNull(), F.lit("removed"))
                    .otherwise(F.lit("changed")).alias("status")))


def replicate_incremental(spark: SparkSession, src_root: str,
                          dst_root: str, *, id_col: str,
                          compare_cols: list[str]) -> str | None:
    """Bring a follower versioned table up to the leader's current
    snapshot by applying only the CHANGELOG delta — the incremental
    consumer snapshot_changelog exists for. Delta application, not a
    copy: surviving rows are the follower's own (one anti-join on the
    removed/changed id set), and only added/changed payload rows are
    read from the leader. Commits the result as the follower's next
    version (write_versioned's atomic _SUCCESS flip) and returns its
    dir; returns None when the follower is already current (no empty
    version is committed). First sync (no follower version yet) is a
    full copy. Same id-uniqueness precondition as snapshot_changelog.

    Scale shape: the diff ships (id, 60-bit fp) only; the anti-join and
    the payload semi-join are id-keyed shuffles (Exchange-free on a
    bucketed-by-id layout); unchanged payload never moves.
    """
    from pyspark.sql import functions as F

    from ..operators.caching import cache_scope, tracked_persist

    src = read_versioned(spark, src_root)
    if not list_versions(spark, dst_root):
        return write_versioned(spark, dst_root, src)

    dst = read_versioned(spark, dst_root)

    # Schema-evolution tolerance (same discipline as snapshot_changelog's
    # side()): a compare column the leader added since the follower's
    # last sync fingerprints as null on the follower side, so unchanged
    # rows stay out of the delta and the union below backfills the new
    # column with nulls on survivors.
    def fp_side(df):
        missing = [c for c in compare_cols if c not in df.columns]
        if missing:
            df = df.withColumns(
                {c: F.lit(None).cast("string") for c in missing})
        return df

    o = fp_side(dst).select(F.col(id_col),
                            _content_fp(compare_cols).alias("_fp")).alias("o")
    n = fp_side(src).select(F.col(id_col),
                            _content_fp(compare_cols).alias("_fp")).alias("n")
    # null-safe id equality + fp-based presence (fp is never null), the
    # snapshot_changelog discipline: a NULL id replicates like any
    # other key instead of re-entering the delta on every sync
    j = o.join(n, F.col(f"o.{id_col}").eqNullSafe(F.col(f"n.{id_col}")),
               "full_outer")
    with cache_scope():
        delta = tracked_persist(
            j.filter(F.col("o._fp").isNull()
                     | F.col("n._fp").isNull()
                     | (F.col("o._fp") != F.col("n._fp")))
            .select(F.when(F.col("o._fp").isNull(), F.col(f"n.{id_col}"))
                    .otherwise(F.col(f"o.{id_col}")).alias(id_col),
                    F.col("n._fp").isNull().alias("gone")),
            eager=False)
        if delta.count() == 0:  # one job: materializes AND checks
            return None
        survivors = dst.join(
            delta, dst[id_col].eqNullSafe(delta[id_col]), "left_anti")
        incoming = src.join(
            delta.filter(~F.col("gone")),
            src[id_col].eqNullSafe(delta[id_col]), "left_semi")
        # allowMissingColumns: across an add-column boundary the
        # survivors (follower schema) backfill the leader's new columns
        # with nulls — the same typed-null reconciliation as
        # read_versioned(reconcile=True)
        return write_versioned(
            spark, dst_root,
            survivors.unionByName(incoming, allowMissingColumns=True))


def compact_versioned(spark: SparkSession, root: str, *,
                      target_file_bytes: int = 128 << 20,
                      keep_versions: int = 2) -> str | None:
    """Small-file compaction: rewrite the CURRENT snapshot into
    ceil(total_bytes / target_file_bytes) files as a NEW version. Readers
    racing the compaction see the old snapshot or the new one, never a
    partial directory, because the flip is the new version's _SUCCESS
    marker. Old versions beyond ``keep_versions`` are pruned afterwards
    (they only become unreachable AFTER the new commit, so an in-flight
    reader of the previous current version needs it retained —
    keep_versions >= 2). A Hive-partitioned version keeps its
    ``key=value`` layout. Returns the new version dir, or None if nothing
    to do.

    Only a versioned root is compacted. A plain output directory may be a
    streaming file sink, whose ``_spark_metadata`` log lists its files:
    a rewrite in place loses that log and the next read of the sink
    fails."""
    import math

    if keep_versions < 2:
        raise ValueError(
            f"keep_versions must be >= 2 (got {keep_versions}): the "
            "pre-compaction current version must survive for in-flight "
            "readers")
    vs = list_versions(spark, root)
    if not vs:
        return None
    cur = vs[-1][1]
    n_files, total = dir_stats(spark, cur)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if n_files == 0 or n_out >= n_files:
        return None
    keys, sub = [], _hive_partition_subdirs(spark, cur)
    while sub:  # the key names of the k1=../k2=.. directory chain
        keys.append(sub[0].rstrip("/").rsplit("/", 1)[-1].split("=", 1)[0])
        sub = _hive_partition_subdirs(spark, sub[0])
    # hashing on the keys writes one file per leaf, not n_out per leaf
    new_dir = write_versioned(
        spark, root, spark.read.parquet(cur).repartition(n_out, *keys),
        partition_by=keys)
    _prune_versions(spark, vs, keep_versions=keep_versions)
    return new_dir


def squash_versioned(spark: SparkSession, root: str, *,
                     distinct: bool = False,
                     keep_versions: int = 2) -> str | None:
    """Squash a DELTA-style versioned store (state = UNION of committed
    versions, e.g. the dedup fingerprint store) into one version.

    Unlike :func:`compact_versioned` (whose state is the CURRENT version
    alone), the squash unions every committed version into the new one —
    so after the prune, state is preserved while readers stop paying a
    per-version listing. ``distinct=True`` also collapses duplicate rows
    (safe for membership sets like fingerprints). Readers racing the
    squash see a SUPERSET union (old versions + the squash) — identical
    membership, which is why this is safe without a reader lock.
    ``keep_versions >= 2`` retains the pre-squash current version for
    in-flight readers, same contract as compact_versioned. Returns the
    new version dir, or None when there is at most one version."""
    if keep_versions < 2:
        raise ValueError(
            f"keep_versions must be >= 2 (got {keep_versions}): the "
            "pre-squash current version must survive for in-flight "
            "readers")
    vs = list_versions(spark, root)
    if len(vs) <= 1:
        return None
    # mergeSchema: across an add-column boundary the union must carry
    # every version's columns (a bare multi-dir read takes ONE footer's
    # schema and silently drops the rest — fatal once evolution exists)
    df = spark.read.option("mergeSchema", "true").parquet(
        *[d for _, d in vs])
    if distinct:
        df = df.distinct()
    new_dir = write_versioned(spark, root, df)
    # A concurrent commit between write_versioned and the prune means the
    # squash is no longer the full union — callers coordinating writers
    # get exact state; lone-writer stores (the dedup fingerprint ledger)
    # are always exact.
    _prune_versions(spark, vs, keep_versions=keep_versions)
    return new_dir


def rebuild_warehouse(spark: SparkSession, table_map: dict[str, str], *,
                      database: str = "default",
                      metabase=None,
                      metabase_auth: tuple[str, str, str | int] | None = None
                      ) -> dict:
    """The reference's full nightly rebuild flow (create_duckdb.py end to
    end) as one call: S6 load the file→table map, keeping each table's
    previous version (S8) → S7 drop stale tables → S13 poke Metabase.
    The S9 lock-retry lives at the JDBC read edge
    (readers.read_jdbc(retries=)) — Spark's metastore has no
    single-writer file lock to retry.

    ``metabase`` is a MetabaseClient (sources/metabase.py) and
    ``metabase_auth`` its (username, password, database_id); the sync is
    log-and-continue by contract, so a BI failure never fails the build.
    Returns {"loaded": [...], "dropped": [...], "metabase_synced":
    bool|None}.
    """
    loaded = build_warehouse(spark, table_map, database=database)
    dropped = reconcile_catalog(spark, set(table_map.values()),
                                database=database)
    synced = None
    if metabase is not None and metabase_auth is not None:
        user, password, db_id = metabase_auth
        synced = metabase.sync_schema(user, password, db_id)
    return {"loaded": loaded, "dropped": dropped, "metabase_synced": synced}
