"""Sources & sinks (SURVEY.md §2.1).

readers    — schema-explicit parquet/CSV/JSON/JDBC readers (S1/S2/S4) and
             the Excel bridge (S10-adjacent, import-gated).
warehouse  — warehouse build as catalog tables over byte-copied snapshot
             versions (no Spark job over the rows) + catalog
             reconciliation (S6/S7).
connector  — folder-feed connector: the Google Drive surface (S3/S4/S10/S11)
             re-expressed over an injectable filesystem backend; the REST
             backend is a stub by design (no Google libs in scope).
"""

from .connector import FolderConnector, LocalFolderBackend
from .readers import read_csv, read_json, read_parquet
from .warehouse import build_warehouse, reconcile_catalog

__all__ = [
    "FolderConnector", "LocalFolderBackend",
    "read_csv", "read_json", "read_parquet",
    "build_warehouse", "reconcile_catalog",
]
