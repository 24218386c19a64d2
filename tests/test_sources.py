"""Sources & sinks (SURVEY.md §2.1): warehouse build/reconcile, readers,
folder connector dispatch + export."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from data_pipeline_foundations_spark.sources import (
    FolderConnector, LocalFolderBackend, build_warehouse, read_csv,
    read_json, reconcile_catalog,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_warehouse_build_and_reconcile(spark):
    """S6+S7: parquet→managed tables, then stale-table drop
    (create_duckdb.py:65-99 semantics)."""
    table_map = {
        f"{SF_DIR}/region.parquet": "dim_region",
        f"{SF_DIR}/nation.parquet": "dim_nation",
    }
    loaded = build_warehouse(spark, table_map)
    assert sorted(loaded) == ["dim_nation", "dim_region"]
    assert spark.table("dim_region").count() == 5

    # a stale table from a previous run
    spark.range(3).write.mode("overwrite").saveAsTable("stale_table")
    dropped = reconcile_catalog(spark, keep=set(table_map.values()))
    assert "stale_table" in dropped
    names = {t.name for t in spark.catalog.listTables()}
    assert "stale_table" not in names
    assert {"dim_region", "dim_nation"} <= names
    # idempotent rebuild (CREATE OR REPLACE semantics)
    build_warehouse(spark, table_map)
    assert spark.table("dim_nation").count() == 25
    for t in ("dim_region", "dim_nation"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")



# ---------------------------------------------------------------------------
# build_warehouse snapshots: catalog tables over copied versions
# ---------------------------------------------------------------------------


def _table_dir(spark, name: str) -> str:
    """Local path of the directory the catalog table ``name`` reads."""
    loc = next(r.data_type for r in spark.sql(
        f"DESCRIBE TABLE EXTENDED {name}").collect()
        if r.col_name == "Location")
    return loc.removeprefix("file:")


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.collect())


@pytest.fixture
def wh_table(spark):
    """A table name whose catalog entry and snapshots go at teardown."""
    name = "snap_t"
    yield name
    reconcile_catalog(spark, keep={t.name for t in spark.catalog.listTables()
                                   if t.name != name})


def test_warehouse_snapshot_survives_source_overwrite(spark, tmp_path,
                                                      wh_table):
    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    build_warehouse(spark, {src: wh_table})
    spark.range(100, 107).write.mode("overwrite").parquet(src)
    assert _ids(spark.table(wh_table)) == list(range(5))


def test_warehouse_reader_survives_rebuild_and_retention(spark, tmp_path,
                                                         wh_table):
    """A DataFrame resolved before a rebuild keeps reading its version;
    the build keeps the current and the previous version only."""
    from data_pipeline_foundations_spark.sources.warehouse import (
        list_versions,
    )
    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    build_warehouse(spark, {src: wh_table})
    held = spark.table(wh_table)
    root = os.path.dirname(_table_dir(spark, wh_table))
    spark.range(10, 17).write.mode("overwrite").parquet(src)
    build_warehouse(spark, {src: wh_table})
    assert _ids(held) == list(range(5))
    assert _ids(spark.table(wh_table)) == list(range(10, 17))
    build_warehouse(spark, {src: wh_table})
    assert [v for v, _ in list_versions(spark, root)] == [2, 3]
    assert not os.path.exists(os.path.join(root, "v_00000001"))
    assert _ids(spark.table(wh_table)) == list(range(10, 17))


def test_warehouse_copies_single_file_source(spark, tmp_path, wh_table):
    """pandas rewrites a single parquet file in place (same inode); a
    link would change under the table, so single files are copied."""
    import pandas as pd

    src = str(tmp_path / "loan.parquet")
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(src)
    build_warehouse(spark, {src: wh_table})
    inode = os.stat(src).st_ino
    pd.DataFrame({"id": [7, 8, 9, 10]}).to_parquet(src)
    assert os.stat(src).st_ino == inode
    assert _ids(spark.table(wh_table)) == [1, 2, 3]


def test_warehouse_partitioned_source(spark, tmp_path, wh_table):
    """A Hive-partitioned source (``k=…`` subdirectories) reads back in
    full: the catalog starts a partitioned table with no partitions
    registered, so the build must recover them, on every rebuild."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    spark.range(6).withColumn("k", F.col("id") % 3) \
        .write.partitionBy("k").parquet(src)
    for _ in range(2):
        build_warehouse(spark, {src: wh_table})
        rows = spark.table(wh_table).collect()
        assert sorted((r.id, r.k) for r in rows) == [
            (i, i % 3) for i in range(6)]
    assert spark.table(wh_table).filter("k = 1").count() == 2


def test_warehouse_mixed_case_names(spark, tmp_path):
    """The catalog lowercases names; the snapshot root and the rebuild's
    own reconcile follow it, so ``Case_T`` and ``case_t`` are one table
    with one version history, and a rebuild keeps what it just built."""
    from data_pipeline_foundations_spark.sources.warehouse import (
        list_versions, rebuild_warehouse,
    )
    src = str(tmp_path / "src")
    spark.range(4).write.parquet(src)
    spark.sql("CREATE DATABASE IF NOT EXISTS Case_DB")
    try:
        out = rebuild_warehouse(spark, {src: "Case_T"}, database="Case_DB")
        assert out["loaded"] == ["Case_T"] and out["dropped"] == []
        assert _ids(spark.table("case_db.case_t")) == list(range(4))
        root = os.path.dirname(_table_dir(spark, "case_db.case_t"))
        assert root.endswith("/_snapshots/case_db/case_t")
        build_warehouse(spark, {src: "case_t"}, database="case_db")
        assert [v for v, _ in list_versions(spark, root)] == [1, 2]
        assert reconcile_catalog(spark, keep={"CASE_T"},
                                 database="case_db") == []
        assert reconcile_catalog(spark, keep=set(),
                                 database="Case_DB") == ["case_t"]
        assert not os.path.exists(root)
    finally:
        spark.sql("DROP DATABASE IF EXISTS case_db CASCADE")


def test_reconcile_removes_snapshot_root(spark, tmp_path, wh_table):
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    build_warehouse(spark, {src: wh_table})
    root = os.path.dirname(_table_dir(spark, wh_table))
    keep = {t.name for t in spark.catalog.listTables()} - {wh_table}
    assert reconcile_catalog(spark, keep=keep) == [wh_table]
    assert not os.path.exists(root)


def test_warehouse_quotes_identifiers(spark, tmp_path):
    """``123.1e3`` lexes as numbers unless quoted; the catalog accepts
    both names. A name the catalog rejects fails loudly and leaves no
    snapshot behind."""
    from pyspark.errors import AnalysisException

    from data_pipeline_foundations_spark.sources.warehouse import (
        build_bucketed,
    )
    src = str(tmp_path / "src")
    spark.range(4).write.parquet(src)
    spark.sql("CREATE DATABASE IF NOT EXISTS `123`")
    try:
        assert build_warehouse(spark, {src: "1e3"}, database="123") == ["1e3"]
        assert _ids(spark.table("`123`.`1e3`")) == list(range(4))
        root = os.path.dirname(_table_dir(spark, "`123`.`1e3`"))
        build_bucketed(spark, src, "2e3", bucket_col="id", n_buckets=2,
                       database="123")
        assert _ids(spark.table("`123`.`2e3`")) == list(range(4))
        assert sorted(reconcile_catalog(spark, keep=set(), database="123")) \
            == ["1e3", "2e3"]
        assert not [t for t in spark.catalog.listTables("123")
                    if not t.isTemporary]
        assert not os.path.exists(root)
        with pytest.raises(AnalysisException,
                           match="INVALID_SCHEMA_OR_RELATION_NAME"):
            build_warehouse(spark, {src: "fact-loan"}, database="123")
        assert not os.path.exists(os.path.join(os.path.dirname(root),
                                               "fact-loan"))
    finally:
        spark.sql("DROP DATABASE IF EXISTS `123` CASCADE")


def test_reconcile_keeps_temporary_views(spark):
    spark.range(3).createOrReplaceTempView("tmp_v")
    try:
        keep = {t.name for t in spark.catalog.listTables()
                if not t.isTemporary}
        assert "tmp_v" not in reconcile_catalog(spark, keep=keep)
        assert spark.table("tmp_v").count() == 3
    finally:
        spark.catalog.dropTempView("tmp_v")

def test_reconcile_runs_no_spark_job(spark):
    """The reconcile is catalog commands only: listing, the view check
    and the drop run no Spark job (``catalog.listTables``'s iterator ran
    several), and a persistent view is left alone."""
    spark.range(3).write.mode("overwrite").saveAsTable("stale_nojob")
    spark.sql("CREATE OR REPLACE VIEW view_nojob AS SELECT 1 AS a")
    keep = {t.name for t in spark.catalog.listTables()
            if t.name not in ("stale_nojob", "view_nojob")}
    sc = spark.sparkContext
    sc.setJobGroup("reconcile_nojob", "reconcile_nojob")
    try:
        dropped = reconcile_catalog(spark, keep=keep)
        jobs = list(sc.statusTracker().getJobIdsForGroup("reconcile_nojob"))
    finally:
        sc.setJobGroup(None, None)
        spark.sql("DROP VIEW IF EXISTS view_nojob")
    assert dropped == ["stale_nojob"]
    assert jobs == []
    assert not spark.catalog.tableExists("stale_nojob")


def test_csv_reader_explicit_schema(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id,amount,label\n1,150,a\n2,,b\n")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.LongType()),
        T.StructField("label", T.StringType()),
    ])
    df = read_csv(spark, str(p), schema)
    rows = {r.id: r for r in df.collect()}
    assert df.schema == schema
    assert rows[2].amount is None  # empty → null, no inference drift


def test_json_reader(spark, tmp_path):
    p = tmp_path / "t.jsonl"
    p.write_text('{"id": 1, "v": 2.5}\n{"id": 2, "v": null}\n')
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])
    df = read_json(spark, str(p), schema)
    assert df.count() == 2
    assert df.filter("v IS NULL").count() == 1


def test_connector_dispatch_and_export(spark, tmp_path):
    """S3/S4/S10: list → extension dispatch → DataFrame; export roundtrip."""
    root = tmp_path / "drive"
    (root / "inbox").mkdir(parents=True)
    (root / "inbox" / "a.csv").write_text("k,v\n1,x\n2,y\n")
    (root / "inbox" / "b.json").write_text('{"k": 3, "v": "z"}\n')
    (root / "inbox" / "ignore.bin").write_text("junk")

    backend = LocalFolderBackend(str(root))
    conn = FolderConnector(spark, backend)
    files = {f["name"]: f for f in backend.list_files("inbox")}
    assert set(files) == {"a.csv", "b.json", "ignore.bin"}

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.StringType())])
    csv_df = conn.load_file_as_dataframe(files["a.csv"], schema)
    json_df = conn.load_file_as_dataframe(files["b.json"], schema)
    both = csv_df.unionByName(json_df)
    assert both.count() == 3

    with pytest.raises(ValueError):
        conn.load_file_as_dataframe(files["ignore.bin"])

    out = conn.export_dataframe(both.orderBy("k"), "reports", "all.csv")
    assert os.path.exists(out)
    round_trip = read_csv(spark, out, schema)
    assert [r.k for r in round_trip.orderBy("k").collect()] == [1, 2, 3]


def test_excel_bridge(spark, tmp_path):
    """S4 Excel arm (utils/gsheets_utils.py:177-181): pandas-bridge
    round-trip when an engine is installed; clear ImportError otherwise."""
    import pandas as pd

    from data_pipeline_foundations_spark.sources.readers import read_excel_bridge
    p = tmp_path / "r.xlsx"
    try:
        pd.DataFrame({"k": [1, 2], "v": ["x", "y"]}).to_excel(p, index=False)
    except ImportError:
        p.write_bytes(b"PK\x03\x04 not a real workbook")
        with pytest.raises(ImportError, match="openpyxl|Excel"):
            read_excel_bridge(spark, str(p))
        return
    df = read_excel_bridge(spark, str(p))
    assert sorted(r.k for r in df.collect()) == [1, 2]


# ---------------------------------------------------------------------------
# Drive REST backend against a local fake Drive server (S3/S4/S10/S11):
# exercises the full HTTP path — auth header, files.list query +
# pagination, alt=media staging, multipart upload — with stdlib only.
# ---------------------------------------------------------------------------
import http.server
import json as _json
import threading
import urllib.parse as _up


class _FakeDrive(http.server.BaseHTTPRequestHandler):
    files = {}           # id -> (name, mimeType, bytes)
    uploads = []         # (metadata dict, payload bytes)
    seen_auth = set()
    seen_queries = []

    def log_message(self, *a):  # quiet
        pass

    def _send(self, code, payload, ctype="application/json"):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.end_headers()
        self.wfile.write(payload)

    def do_GET(self):
        self.seen_auth.add(self.headers.get("Authorization"))
        parsed = _up.urlparse(self.path)
        qs = _up.parse_qs(parsed.query)
        if parsed.path == "/drive/v3/files":          # files.list, 2 pages
            self.seen_queries.append(qs["q"][0])
            ids = sorted(self.files)
            page_token = qs.get("pageToken", [None])[0]
            if page_token is None:
                body = {"files": [self._meta(i) for i in ids[:2]],
                        "nextPageToken": "p2"}
            else:
                assert page_token == "p2"
                body = {"files": [self._meta(i) for i in ids[2:]]}
            return self._send(200, _json.dumps(body).encode())
        fid = parsed.path.rsplit("/", 1)[-1]          # files.get alt=media
        assert qs.get("alt") == ["media"]
        return self._send(200, self.files[fid][2],
                          ctype="application/octet-stream")

    def do_POST(self):
        self.seen_auth.add(self.headers.get("Authorization"))
        assert self.path.startswith("/upload/drive/v3/files")
        assert "uploadType=multipart" in self.path
        body = self.rfile.read(int(self.headers["Content-Length"]))
        boundary = self.headers["Content-Type"].split("boundary=")[1]
        parts = body.split(f"--{boundary}".encode())
        meta = _json.loads(parts[1].split(b"\r\n\r\n", 1)[1].rstrip(b"\r\n"))
        payload = parts[2].split(b"\r\n\r\n", 1)[1]
        payload = payload[:-2] if payload.endswith(b"\r\n") else payload
        self.uploads.append((meta, payload))
        return self._send(200, _json.dumps({"id": "up1"}).encode())

    @classmethod
    def _meta(cls, fid):
        name, mime, _ = cls.files[fid]
        return {"id": fid, "name": name, "mimeType": mime}


@pytest.fixture()
def fake_drive():
    _FakeDrive.files = {
        "f1": ("a.csv", "text/csv", b"k,v\n1,x\n2,y\n"),
        "f2": ("b.csv", "text/csv", b"k,v\n3,z\n"),
        "f3": ("c.json", "application/json", b'{"k": 4, "v": "w"}\n'),
    }
    _FakeDrive.uploads = []
    _FakeDrive.seen_auth = set()
    _FakeDrive.seen_queries = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FakeDrive)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_drive_rest_backend_end_to_end(spark, tmp_path, fake_drive):
    from data_pipeline_foundations_spark.sources.connector import (
        DriveRestBackend, FolderConnector,
    )
    backend = DriveRestBackend(lambda: "tok123", str(tmp_path / "staging"),
                               base_url=fake_drive)
    conn = FolderConnector(spark, backend)

    files = backend.list_files("folder9")
    assert [f["name"] for f in files] == ["a.csv", "b.csv", "c.json"]
    assert _FakeDrive.seen_queries[0] == "'folder9' in parents and trashed = false"

    # S4: download-on-access staging, then a real Spark read
    df = conn.load_file_as_dataframe(files[0],
                                     schema=T.StructType([
                                         T.StructField("k", T.LongType()),
                                         T.StructField("v", T.StringType())]))
    assert {(r.k, r.v) for r in df.collect()} == {(1, "x"), (2, "y")}
    dfj = conn.load_file_as_dataframe(files[2])
    assert dfj.first().k == 4

    # S10/S11: report export → multipart upload with parent folder
    report = spark.createDataFrame([Row(a=1, b="r")])
    fid = conn.export_dataframe(report, "folder9", "report.csv")
    assert fid == "up1"
    meta, payload = _FakeDrive.uploads[0]
    assert meta == {"name": "report.csv", "parents": ["folder9"]}
    assert payload == b"a,b\n1,r\n"

    # every request carried the injected bearer token
    assert _FakeDrive.seen_auth == {"Bearer tok123"}


class _FakeSheets(http.server.BaseHTTPRequestHandler):
    calls = []

    def log_message(self, *a):
        pass

    def _handle(self):
        body = b""
        n = self.headers.get("Content-Length")
        if n:
            body = self.rfile.read(int(n))
        self.calls.append((self.command, self.path,
                           self.headers.get("Authorization"),
                           _json.loads(body) if body else None))
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(b"{}")

    do_POST = _handle
    do_PUT = _handle


@pytest.fixture()
def fake_sheets():
    _FakeSheets.calls = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FakeSheets)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_sheets_rest_sink(spark, fake_sheets):
    """S11: clear-then-update with a header row, RAW values, bearer auth."""
    from data_pipeline_foundations_spark.sources.connector import (
        SheetsRestBackend,
    )
    be = SheetsRestBackend(lambda: "tok9", base_url=fake_sheets)
    df = spark.createDataFrame([Row(month="2025-01", total=10.5),
                                Row(month="2025-02", total=20.0)])
    be.export_dataframe(df, "sheet123", "Report Tab")

    clear, update = _FakeSheets.calls
    assert clear[0] == "POST" and clear[1].endswith(
        "/v4/spreadsheets/sheet123/values/Report%20Tab:clear")
    assert update[0] == "PUT"
    assert "/values/Report%20Tab?valueInputOption=RAW" in update[1]
    assert update[3] == {"values": [["month", "total"],
                                    ["2025-01", 10.5], ["2025-02", 20.0]]}
    assert {c[2] for c in _FakeSheets.calls} == {"Bearer tok9"}


def test_versioned_snapshot_commit_and_compact(spark, tmp_path):
    """Versioned layout: commit is the _SUCCESS marker flip — a reader
    resolving during/after compaction sees a complete old or new snapshot,
    an uncommitted (crashed) writer directory is invisible, and pruning
    keeps the previous version for in-flight readers."""
    import os

    from data_pipeline_foundations_spark.sources.warehouse import (
        compact_versioned, current_version_dir, list_versions,
        read_versioned, write_versioned,
    )
    root = str(tmp_path / "snap")
    df = spark.range(5_000).selectExpr("id", "id * 3 AS v").repartition(16)
    v1 = write_versioned(spark, root, df)
    assert current_version_dir(spark, root) == v1
    before = {(r.id, r.v) for r in read_versioned(spark, root).collect()}

    # crash-sim: an uncommitted version dir (no _SUCCESS) must be invisible
    orphan = os.path.join(root, "v_00000099")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-broken.parquet"), "wb").close()
    assert current_version_dir(spark, root) == v1

    v2 = compact_versioned(spark, root, target_file_bytes=1 << 30)
    assert v2 is not None and v2 != v1
    # old version retained for in-flight readers; new one is current
    committed = [d for _, d in list_versions(spark, root)]
    assert v1 in committed and v2 in committed
    assert current_version_dir(spark, root) == v2
    assert {(r.id, r.v) for r in read_versioned(spark, root).collect()} == before
    # old snapshot still readable AS COMMITTED DATA (reader raced the flip)
    assert {(r.id, r.v) for r in spark.read.parquet(v1).collect()} == before
    # idempotent: already at/below target granularity -> no new version
    assert compact_versioned(spark, root, target_file_bytes=1 << 30) is None
    assert current_version_dir(spark, root) == v2

    # a second compaction round prunes v1 (keep_versions=2 keeps v2 + v3)
    v3 = write_versioned(
        spark, root, spark.read.parquet(v2).repartition(8))
    assert current_version_dir(spark, root) == v3
    compact_versioned(spark, root, target_file_bytes=1 << 30, keep_versions=2)
    remaining = {d for _, d in list_versions(spark, root)}
    assert v1 not in remaining or len(remaining) <= 3
    assert {(r.id, r.v) for r in read_versioned(spark, root).collect()} == before


def test_compact_versioned_keeps_hive_partitions(spark, tmp_path):
    """A Hive-partitioned version compacts into a version with the same
    ``key=value`` directory chain instead of a flat one, and the key is
    still a prunable partition column, not flattened into the data."""
    from data_pipeline_foundations_spark.sources.warehouse import (
        compact_versioned, read_versioned, write_versioned,
    )
    root = str(tmp_path / "vpart")
    df = (spark.range(600).selectExpr("id", "id % 3 AS k", "id % 2 AS j")
          .repartition(8))
    write_versioned(spark, root, df, partition_by=["k", "j"])
    want = sorted(map(tuple, df.select("id", "k", "j").collect()))

    def layout(version_dir):
        d = version_dir.removeprefix("file:")
        return {(a, b) for a in os.listdir(d) if a.startswith("k=")
                for b in os.listdir(os.path.join(d, a)) if b.startswith("j=")}

    full = {(f"k={k}", f"j={j}") for k in range(3) for j in range(2)}
    new_dir = compact_versioned(spark, root, target_file_bytes=1 << 30)
    assert new_dir is not None and layout(new_dir) == full
    assert sorted(map(tuple, read_versioned(spark, root)
                      .select("id", "k", "j").collect())) == want
    # partition pruning still applies: the filter is a partition filter
    import re
    plan = re.sub(r"#\d+", "", read_versioned(spark, root).filter("k = 1")
                  ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(k), (k = 1)]" in plan


def test_concurrent_reader_survives_compaction(spark, tmp_path):
    """VERDICT r8 #5 pin: a reader whose plan was bound BEFORE compaction
    collects its rows intact DURING/AFTER the publish (the versioned flip
    never half-swaps a directory, and keep_versions retains its
    snapshot)."""
    from data_pipeline_foundations_spark.sources.warehouse import (
        compact_versioned, current_version_dir, dir_stats, list_versions,
        read_versioned, write_versioned,
    )
    root = str(tmp_path / "vstore")
    df = spark.range(20_000).selectExpr("id", "id % 7 AS g").repartition(24)
    v1 = write_versioned(spark, root, df)
    expect = {(r.id, r.g) for r in spark.read.parquet(v1).collect()}

    # the "concurrent reader": a lazy plan resolved against the
    # pre-compaction current version, collected only after the publish
    in_flight = read_versioned(spark, root)

    v2 = compact_versioned(spark, root, target_file_bytes=1 << 30)
    assert v2 is not None and v2 != v1
    assert current_version_dir(spark, root) == v2
    assert dir_stats(spark, v2)[0] < 24

    # the in-flight reader still drains its full snapshot...
    assert {(r.id, r.g) for r in in_flight.collect()} == expect
    # ...because the pre-compaction version was retained, not swapped out
    assert v1 in {d for _, d in list_versions(spark, root)}
    # and a post-compaction reader resolves the compacted twin, same rows
    assert {(r.id, r.g) for r in read_versioned(spark, root).collect()} \
        == expect


# ---------------------------------------------------------------------------
# S9/S12/S13 — lock-retry, credentials, Metabase sync
# ---------------------------------------------------------------------------


def test_connect_with_retry_semantics():
    """S9: lock errors retry with waits, non-lock errors raise
    immediately, exhaustion raises RuntimeError chained to the last lock
    error (reference create_duckdb.py:43-58)."""
    import pytest

    from data_pipeline_foundations_spark.sources.resilience import (
        connect_with_retry,
    )
    sleeps = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise IOError("Conflicting lock is held by another process")
        return "conn"

    assert connect_with_retry(flaky, sleep=sleeps.append) == "conn"
    assert calls["n"] == 3 and sleeps == [2.0, 2.0]

    with pytest.raises(ValueError, match="schema"):  # non-lock: immediate
        connect_with_retry(lambda: (_ for _ in ()).throw(
            ValueError("bad schema")), sleep=sleeps.append)

    def always_locked():
        raise IOError("database is locked")
    with pytest.raises(RuntimeError, match="persistent lock") as ei:
        connect_with_retry(always_locked, max_retries=3, sleep=sleeps.append)
    assert isinstance(ei.value.__cause__, IOError)


def test_credentials_resolution_chain(tmp_path):
    """S12: overrides > env > dotenv file; unresolved keys fail together;
    the JDBC URL carries encrypted read-only intent with no credentials
    embedded (reference db_connection.py:20-44)."""
    import pytest

    from data_pipeline_foundations_spark.sources.credentials import (
        parse_dotenv, resolve_credentials, sqlserver_jdbc_url,
    )
    env_file = tmp_path / ".env"
    env_file.write_text(
        "# comment\nexport DB_SERVER='files.example.test'\n"
        'DB_DATABASE="dwh"\nDB_UID=svc\nDB_PASSWORD=from_file\n')
    assert parse_dotenv(str(env_file))["DB_SERVER"] == "files.example.test"

    got = resolve_credentials(
        ["DB_SERVER", "DB_DATABASE", "DB_UID", "DB_PASSWORD"],
        overrides={"DB_PASSWORD": "from_override"},
        env={"DB_UID": "from_env"},
        dotenv_path=str(env_file))
    assert got == {"DB_SERVER": "files.example.test", "DB_DATABASE": "dwh",
                   "DB_UID": "from_env", "DB_PASSWORD": "from_override"}

    with pytest.raises(KeyError, match="DB_TOKEN"):
        resolve_credentials(["DB_TOKEN"], env={}, dotenv_path=str(env_file))

    url = sqlserver_jdbc_url("files.example.test", "dwh")
    assert url.startswith("jdbc:sqlserver://files.example.test;")
    assert "applicationIntent=ReadOnly" in url and "encrypt=true" in url
    assert "from_override" not in url  # secrets never in the URL


class _FakeMetabase(http.server.BaseHTTPRequestHandler):
    sessions = []
    syncs = []
    good_password = "pw1"

    def log_message(self, *a):
        pass

    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.path == "/api/session":
            creds = _json.loads(body)
            self.sessions.append(creds)
            if creds.get("password") != self.good_password:
                self.send_response(401)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(_json.dumps({"id": "tok-mb"}).encode())
            return
        assert self.path == "/api/database/7/sync_schema"
        self.syncs.append(self.headers.get("X-Metabase-Session"))
        self.send_response(200)
        self.end_headers()


@pytest.fixture()
def fake_metabase():
    _FakeMetabase.sessions = []
    _FakeMetabase.syncs = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FakeMetabase)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_metabase_sync_schema(fake_metabase):
    """S13: session auth then sync_schema with the session header; auth
    failure returns False without raising (reference
    sync_metabase_schema.py:20-43 log-and-continue contract)."""
    from data_pipeline_foundations_spark.sources.metabase import (
        MetabaseClient,
    )
    mb = MetabaseClient(fake_metabase)
    assert mb.sync_schema("analyst", "pw1", 7) is True
    assert _FakeMetabase.syncs == ["tok-mb"]
    assert mb.sync_schema("analyst", "wrong", 7) is False
    assert _FakeMetabase.syncs == ["tok-mb"]  # no sync on failed auth


def test_service_account_resolution(tmp_path):
    """S12 (gsheets_utils.py:81-112): env value resolves as absolute
    path, base_dir-relative path, or inline JSON — with the reference's
    two failure modes."""
    import pytest

    from data_pipeline_foundations_spark.sources.credentials import (
        resolve_service_account,
    )
    blob = '{"client_email": "svc@example.test", "private_key_id": "k1"}'
    p = tmp_path / "sa.json"
    p.write_text(blob)

    got = resolve_service_account(env={"GOOGLE_SHEETS_CREDENTIALS": str(p)})
    assert got["client_email"] == "svc@example.test"
    got = resolve_service_account(
        env={"GOOGLE_SHEETS_CREDENTIALS": "sa.json"}, base_dir=str(tmp_path))
    assert got["private_key_id"] == "k1"
    got = resolve_service_account(env={"GOOGLE_SHEETS_CREDENTIALS": blob})
    assert got["client_email"] == "svc@example.test"

    with pytest.raises(RuntimeError, match="not set or is empty"):
        resolve_service_account(env={})
    with pytest.raises(RuntimeError, match="neither a valid path nor JSON"):
        resolve_service_account(
            env={"GOOGLE_SHEETS_CREDENTIALS": "no/such/file.json"})


def test_rebuild_warehouse_end_to_end(spark, tmp_path, fake_metabase):
    """The reference's nightly flow composed: map load, stale-table drop,
    Metabase poke — one call, every step observable. A second rebuild
    keeps the first one's version readable (S8: keep the newest
    backup)."""
    from data_pipeline_foundations_spark.sources.metabase import (
        MetabaseClient,
    )
    from data_pipeline_foundations_spark.sources.warehouse import (
        read_versioned, rebuild_warehouse,
    )
    src = str(tmp_path / "in.parquet")
    spark.range(4).write.parquet(src)
    stale_name = "test_rw_stale"
    spark.range(1).write.mode("overwrite").saveAsTable(stale_name)

    out = rebuild_warehouse(
        spark, {src: "test_rw_fact"},
        metabase=MetabaseClient(fake_metabase),
        metabase_auth=("analyst", "pw1", 7))
    try:
        assert out["loaded"] == ["test_rw_fact"]
        assert stale_name in out["dropped"]
        assert out["metabase_synced"] is True
        assert spark.table("test_rw_fact").count() == 4
        spark.range(10, 16).write.mode("overwrite").parquet(src)
        rebuild_warehouse(spark, {src: "test_rw_fact"})
        assert _ids(spark.table("test_rw_fact")) == list(range(10, 16))
        root = os.path.dirname(_table_dir(spark, "test_rw_fact"))
        assert _ids(read_versioned(spark, root, version=1)) == list(range(4))
    finally:
        spark.sql("DROP TABLE IF EXISTS test_rw_fact")


def test_json_quarantine_splits_good_and_bad(spark, tmp_path):
    """Malformed JSON lines land in the quarantine frame with their raw
    text; conforming rows parse; the job never fails. One parse pass
    feeds both outputs (cached), so good+bad == input lines exactly."""
    from pyspark.sql import types as T

    from data_pipeline_foundations_spark.sources.readers import (
        read_json_quarantine,
    )

    p = tmp_path / "in.jsonl"
    p.write_text('\n'.join([
        '{"id": 1, "name": "ok"}',
        '{"id": 2, "name": "also ok"}',
        '{broken json!!',
        '{"id": "not-an-int", "name": 3}',  # type mismatch -> corrupt
        '{"id": 5, "name": "fine"}',
    ]))
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("name", T.StringType())])
    good, bad = read_json_quarantine(spark, str(p), schema)
    g = sorted((r.id, r.name) for r in good.collect())
    b = sorted(r.raw for r in bad.collect())
    assert g == [(1, "ok"), (2, "also ok"), (5, "fine")]
    assert len(b) == 2
    assert any(r.startswith("{broken") for r in b)
    assert any("not-an-int" in r for r in b)


def test_constraint_report_counts_violations(spark):
    """The report counts violations per rule in one pass, including the
    uniqueness rule (n_rows - n_distinct) and zero-violation rules."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.operators.validation import (
        constraint_report,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "A"), (2, 3.0, "B"),
         (None, 7.0, "C"), (4, 200.0, "A")],
        "id long, amount double, grade string")
    rep = {r.constraint: r for r in constraint_report(
        df,
        rules=[("not_null:id", F.col("id").isNull()),
               ("range:amount:[0,100]",
                (F.col("amount") < 0) | (F.col("amount") > 100)),
               ("accepted:grade:{A,B}", ~F.col("grade").isin("A", "B"))],
        unique=[("unique:id", ["id"])]).collect()}
    assert rep["not_null:id"].n_violations == 1
    assert rep["range:amount:[0,100]"].n_violations == 2
    assert rep["accepted:grade:{A,B}"].n_violations == 1
    # null-safe uniqueness (ADVICE r4): the struct-based distinct counts
    # the null id as its own key value (GROUP-BY equality, matching the
    # DuckDB oracle's COUNT(DISTINCT (a,b))) -> 4 distinct of 5 rows;
    # the only duplicated key is id=2
    assert rep["unique:id"].n_violations == 1
    assert all(r.n_rows == 5 for r in rep.values())
    assert not rep["not_null:id"].passed


def test_versioned_prune_race_and_guards(spark, tmp_path, monkeypatch):
    """ADVICE r5: (a) keep_versions < 2 must be an explicit error, not a
    silent slice no-op; (b) the post-squash prune must work from the
    PRE-squash version list, so a writer committing between the squash's
    write and its prune can neither lose its own commit nor shift the
    kept tail onto the pre-squash current version."""
    import pytest as _pytest

    from data_pipeline_foundations_spark.sources import warehouse as wh

    root = str(tmp_path / "snap")
    for i in range(3):
        wh.write_versioned(spark, root,
                           spark.range(10).selectExpr(f"id + {10 * i} AS id"))
    vs = wh.list_versions(spark, root)
    assert len(vs) == 3
    pre_squash_current = vs[-1][1]

    with _pytest.raises(ValueError, match="keep_versions"):
        wh.squash_versioned(spark, root, keep_versions=1)
    with _pytest.raises(ValueError, match="keep_versions"):
        wh.compact_versioned(spark, root, keep_versions=0)

    # race-sim: the first write_versioned call (the squash's own commit)
    # is immediately followed by a concurrent writer's commit, BEFORE
    # squash_versioned reaches its prune
    real_write = wh.write_versioned
    state = {"fired": False}

    def write_then_concurrent_commit(spark_, root_, df, **kw):
        out = real_write(spark_, root_, df, **kw)
        if not state["fired"]:
            state["fired"] = True
            real_write(spark_, root_, spark.range(5).selectExpr(
                "id + 1000 AS id"))
        return out

    monkeypatch.setattr(wh, "write_versioned", write_then_concurrent_commit)
    wh.squash_versioned(spark, root, keep_versions=2)
    remaining = {d for _, d in wh.list_versions(spark, root)}
    # the concurrent commit survived, and so did the pre-squash current
    # (the documented in-flight-reader contract)
    assert pre_squash_current in remaining
    assert any(d.endswith("v_00000005") for d in remaining)
    ids = {r.id for r in wh.read_versioned(spark, root).collect()}
    assert ids == {1000, 1001, 1002, 1003, 1004}


def test_time_travel_and_snapshot_changelog(spark, tmp_path):
    """read_versioned(version=) resolves any retained committed version;
    snapshot_changelog classifies added/removed/changed between two
    versions off the content fingerprints."""
    import pytest as _pytest

    from data_pipeline_foundations_spark.sources.warehouse import (
        read_versioned, snapshot_changelog, write_versioned,
    )
    root = str(tmp_path / "snap")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string")
    v2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "id long, val string")
    write_versioned(spark, root, v1)
    write_versioned(spark, root, v2)

    assert {r.val for r in
            read_versioned(spark, root, version=1).collect()} == {"a", "b", "c"}
    assert {r.val for r in read_versioned(spark, root).collect()} == {"a", "B", "d"}
    with _pytest.raises(FileNotFoundError, match="version 9"):
        read_versioned(spark, root, version=9)

    log = {(r.id, r.status) for r in snapshot_changelog(
        spark, root, id_col="id", compare_cols=["val"]).collect()}
    assert log == {(2, "changed"), (3, "removed"), (4, "added")}


def test_changelog_null_handling_and_version_guard(spark, tmp_path):
    """NULL and '' fingerprint differently; ('x', NULL) != (NULL, 'x');
    v_new at the oldest version raises the descriptive error."""
    import pytest as _pytest

    from data_pipeline_foundations_spark.sources.warehouse import (
        snapshot_changelog, write_versioned,
    )
    root = str(tmp_path / "snap")
    v1 = spark.createDataFrame(
        [(1, "x", None), (2, None, None)], "id long, a string, b string")
    v2 = spark.createDataFrame(
        [(1, None, "x"), (2, "", None)], "id long, a string, b string")
    write_versioned(spark, root, v1)
    write_versioned(spark, root, v2)
    log = {(r.id, r.status) for r in snapshot_changelog(
        spark, root, id_col="id", compare_cols=["a", "b"]).collect()}
    assert log == {(1, "changed"), (2, "changed")}
    with _pytest.raises(ValueError, match="older than"):
        snapshot_changelog(spark, root, id_col="id",
                           compare_cols=["a"], v_new=1)


def test_replicate_incremental_roundtrip(spark, tmp_path):
    """Follower = leader after every sync; already-current sync commits
    nothing; only delta rows are applied (survivors keep follower rows)."""
    from data_pipeline_foundations_spark.sources.warehouse import (
        list_versions, read_versioned, replicate_incremental,
        write_versioned,
    )
    src = str(tmp_path / "leader")
    dst = str(tmp_path / "follower")

    def content(root):
        return {(r.id, r.a) for r in read_versioned(spark, root).collect()}

    write_versioned(spark, src, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, a string"))
    assert replicate_incremental(spark, src, dst, id_col="id",
                                 compare_cols=["a"]) is not None
    assert content(dst) == content(src)

    # leader evolves: 2 changed, 3 removed, 4 added
    write_versioned(spark, src, spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "id long, a string"))
    assert replicate_incremental(spark, src, dst, id_col="id",
                                 compare_cols=["a"]) is not None
    assert content(dst) == {(1, "a"), (2, "B"), (4, "d")}
    # idempotent: a second sync is a no-op (no new version committed)
    n_before = len(list_versions(spark, dst))
    assert replicate_incremental(spark, src, dst, id_col="id",
                                 compare_cols=["a"]) is None
    assert len(list_versions(spark, dst)) == n_before


def test_replicate_incremental_null_id(spark, tmp_path):
    """A NULL id replicates like any other key (null-safe joins): it
    syncs once, converges, and the idempotence contract holds."""
    from data_pipeline_foundations_spark.sources.warehouse import (
        read_versioned, replicate_incremental, write_versioned,
    )
    src = str(tmp_path / "leader")
    dst = str(tmp_path / "follower")
    write_versioned(spark, src, spark.createDataFrame(
        [(None, "x"), (1, "a")], "id long, a string"))
    write_versioned(spark, dst, spark.createDataFrame(
        [(1, "a")], "id long, a string"))
    assert replicate_incremental(spark, src, dst, id_col="id",
                                 compare_cols=["a"]) is not None
    got = {(r.id, r.a) for r in read_versioned(spark, dst).collect()}
    assert got == {(None, "x"), (1, "a")}
    # converged: next sync is a no-op
    assert replicate_incremental(spark, src, dst, id_col="id",
                                 compare_cols=["a"]) is None


def test_content_fp_injective_on_control_bytes(spark):
    """ADVICE r6: the fingerprint encoding must stay injective even
    when values CONTAIN the tag/separator control bytes. Before the
    length-prefix fix, ('x\\x1f\\x01y', NULL) and ('x', 'y\\x1f\\x00')
    produced identical fingerprints, so changelog/replication would
    classify a real change as 'unchanged'."""
    from data_pipeline_foundations_spark.sources.warehouse import (
        _content_fp,
    )
    df = spark.createDataFrame(
        [(1, "x\x1f\x01y", None),
         (2, "x", "y\x1f\x00"),
         (3, "", None),          # empty string vs NULL
         (4, None, ""),
         (5, "1:a", None),       # value that mimics a length prefix
         (6, "a", None)],
        "id long, a string, b string")
    fps = [r.fp for r in df.select(
        _content_fp(["a", "b"]).alias("fp")).collect()]
    assert len(set(fps)) == len(fps)


def test_versioned_schema_evolution_add_column(spark, tmp_path):
    """VERDICT r9 #7: add-only schema evolution on the versioned store.
    v1(a,b) -> v2(a,b,c) commits; time travel reads each version under
    its own schema; reconcile=True projects v1 to the current schema
    with a typed null; the changelog crosses the boundary (new column
    null => unchanged, new column set => changed); column drops and
    type changes raise unless made explicit."""
    import pytest as _pytest

    from data_pipeline_foundations_spark.sources.warehouse import (
        read_versioned, snapshot_changelog, write_versioned,
    )
    root = str(tmp_path / "evo")
    write_versioned(spark, root, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"))
    write_versioned(spark, root, spark.createDataFrame(
        [(1, "a", None), (2, "b", 7), (3, "C", None)],
        "id long, val string, score int"))

    # time travel: each version keeps the schema it was written under
    assert read_versioned(spark, root, version=1).columns == ["id", "val"]
    assert read_versioned(spark, root, version=2).columns == \
        ["id", "val", "score"]

    # reconcile: v1 projected to the CURRENT schema, typed nulls
    rec = read_versioned(spark, root, version=1, reconcile=True)
    assert rec.columns == ["id", "val", "score"]
    assert dict(rec.dtypes)["score"] == "int"
    assert all(r.score is None for r in rec.collect())

    # changelog across the boundary: id 2 gained a score (changed),
    # id 3's val changed; id 1 (score still null, val unchanged) is NOT
    # in the delta
    log = {(r.id, r.status) for r in snapshot_changelog(
        spark, root, id_col="id", compare_cols=["val", "score"]).collect()}
    assert log == {(2, "changed"), (3, "changed")}

    # dropping a column raises with the offender named ...
    with _pytest.raises(ValueError, match=r"dropped: \['score'\]"):
        write_versioned(spark, root, spark.createDataFrame(
            [(1, "a")], "id long, val string"))
    # ... as does retyping one ...
    with _pytest.raises(ValueError, match="retyped"):
        write_versioned(spark, root, spark.createDataFrame(
            [(1, "a", 1.5)], "id long, val string, score double"))
    # ... and allow_incompatible makes the break explicit
    write_versioned(spark, root, spark.createDataFrame(
        [(1, "a")], "id long, val string"), allow_incompatible=True)
    assert read_versioned(spark, root).columns == ["id", "val"]


def test_replicate_and_squash_across_schema_boundary(spark, tmp_path):
    """Replication follows the leader across an add-column commit
    (survivors backfill typed nulls, delta rows carry real values), and
    squash_versioned's union keeps every version's columns
    (mergeSchema) instead of silently taking one footer's schema."""
    from data_pipeline_foundations_spark.sources.warehouse import (
        read_versioned, replicate_incremental, squash_versioned,
        write_versioned,
    )
    src = str(tmp_path / "leader")
    dst = str(tmp_path / "follower")
    write_versioned(spark, src, spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, val string"))
    assert replicate_incremental(spark, src, dst, id_col="id",
                                 compare_cols=["val"]) is not None

    # leader adds a column: id 2 gets a score, id 1 stays null-scored
    write_versioned(spark, src, spark.createDataFrame(
        [(1, "a", None), (2, "b", 7)], "id long, val string, score int"))
    assert replicate_incremental(spark, src, dst, id_col="id",
                                 compare_cols=["val", "score"]) is not None
    got = {(r.id, r.val, r.score) for r in
           read_versioned(spark, dst).collect()}
    assert got == {(1, "a", None), (2, "b", 7)}
    # converged across the boundary: next sync is a no-op
    assert replicate_incremental(spark, src, dst, id_col="id",
                                 compare_cols=["val", "score"]) is None

    # squash a delta-style store across the boundary: both columns live
    store = str(tmp_path / "delta_store")
    write_versioned(spark, store, spark.createDataFrame(
        [(1, "a")], "id long, val string"))
    write_versioned(spark, store, spark.createDataFrame(
        [(2, "b", 7)], "id long, val string, score int"))
    assert squash_versioned(spark, store, keep_versions=2) is not None
    rows = {(r.id, r.val, r.score) for r in
            read_versioned(spark, store).collect()}
    assert rows == {(1, "a", None), (2, "b", 7)}


def test_load_memoizes_plan_not_results(spark, sf_dir):
    """Same DataFrame object per (session, sf_dir, table); rows equal a
    fresh un-memoized read; the events ns→us conversion survives."""
    from data_pipeline_foundations_spark.tables import load, table_path

    a = load(spark, sf_dir, "nation")
    b = load(spark, sf_dir, "nation")
    assert a is b
    fresh = spark.read.parquet(table_path(sf_dir, "nation"))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple,
                                                         fresh.collect()))
    ev = load(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")  # ns→us applied
    assert load(spark, sf_dir, "events") is ev
