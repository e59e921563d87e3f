"""Engine + collection catalog (SURVEY.md §2.1, R1-R13).

In-process analogue of the reference's `ChromaClient`
(reference src/client.rs:12-35): constructor params become engine
state, the tenant/database two-level namespace (client.rs:16-17,
328-340) becomes a warehouse directory hierarchy, and each HTTP
endpoint becomes a catalog method:

    heartbeat            <- GET api/v1/heartbeat        (client.rs:70-91)
    version              <- GET api/v1/version          (client.rs:285-303)
    reset                <- POST api/v1/reset           (client.rs:261-282)
    create_collection    <- POST api/v1/collections     (client.rs:94-133)
    get_or_create_...    <- same w/ get_or_create:true  (client.rs:160-199)
    get_collection       <- GET api/v1/collections/{n}  (client.rs:136-157)
    delete_collection    <- DELETE api/v1/collections/{n} (client.rs:202-226)
    list_collections     <- GET api/v1/collections      (client.rs:229-258)
    _preflight           <- GET api/v1/pre-flight-checks (client.rs:37-52)

Storage layout: collection *data* is columnar Parquet (the big, scan-
heavy part — Spark's domain), while the collection *registry* is a
driver-side JSON file. That split is deliberate and idiomatic: every
real Spark catalog (Hive metastore, Delta log) keeps table metadata
out of the scan path; a registry of O(100) collections must not cost a
distributed job per lookup. `list_collections_df()` exposes the
registry as a DataFrame for SQL-side joins when wanted.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from chroma_rs_spark import errors
from chroma_rs_spark.errors import (
    CollectionExistsError,
    CollectionNotFoundError,
    PreflightError,
    ResetDisabledError,
)
from chroma_rs_spark.session import local_frame

DEFAULT_TENANT = "default_tenant"
DEFAULT_DATABASE = "default_database"

ITEM_SCHEMA = (
    "id STRING, embedding ARRAY<FLOAT>, document STRING, metadata MAP<STRING,STRING>"
)


@dataclass
class Collection:
    """Passive collection descriptor (reference src/collection.rs:4-22)."""

    name: str
    id: str
    metadata: dict | None = None
    _engine: "Engine | None" = field(default=None, repr=False, compare=False)

    # Item-level operations are provided by the bound engine; see
    # chroma_rs_spark/collection.py (ItemOps mixin functions).
    def __getattr__(self, attr):
        from chroma_rs_spark import collection as item_ops

        fn = getattr(item_ops, attr, None)
        if fn is None or attr.startswith("_"):
            raise AttributeError(attr)
        if self._engine is None:
            raise errors.EngineError(
                f"collection {self.name!r} is not bound to an engine"
            )

        def bound(*args, **kwargs):
            return fn(self._engine, self, *args, **kwargs)

        return bound


class Engine:
    """The engine session: SparkSession + warehouse + namespace."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        tenant: str = DEFAULT_TENANT,
        database: str = DEFAULT_DATABASE,
        allow_reset: bool = False,
    ) -> None:
        self.spark = spark
        self.warehouse = warehouse
        self.tenant = tenant
        self.database = database
        self.allow_reset = allow_reset
        os.makedirs(self._ns_dir(), exist_ok=True)

    # -- path resolution (analogue of get_url/get_url_with_params,
    #    reference src/client.rs:54-67) --------------------------------
    def _ns_dir(self) -> str:
        return os.path.join(self.warehouse, self.tenant, self.database)

    def _registry_path(self) -> str:
        return os.path.join(self._ns_dir(), "_collections.json")

    def collection_dir(self, collection_id: str) -> str:
        return os.path.join(self._ns_dir(), collection_id)

    def data_path(self, collection_id: str) -> str:
        return os.path.join(self.collection_dir(collection_id), "data")

    # -- registry I/O --------------------------------------------------
    def _read_registry(self) -> list[dict]:
        """Registry rows, cached on the file's mtime: item ops consult
        the registry several times per call (partition key, dim check),
        and re-parsing the JSON each time is pointless driver I/O. The
        mtime check keeps the cache correct under out-of-band edits."""
        path = self._registry_path()
        if not os.path.exists(path):
            return []
        mtime = os.path.getmtime(path)
        cached = getattr(self, "_registry_cache", None)
        if cached is not None and cached[0] == mtime:
            return cached[1]
        with open(path) as f:
            rows = json.load(f)
        self._registry_cache = (mtime, rows)
        return rows

    def _write_registry(self, rows: list[dict]) -> None:
        path = self._registry_path()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rows, f, indent=1)
        os.replace(tmp, path)
        self._registry_cache = (os.path.getmtime(path), rows)

    def _preflight(self) -> None:
        """Fail-fast invariant check before each op (client.rs:37-52)."""
        if not os.path.isdir(self._ns_dir()):
            raise PreflightError(f"warehouse namespace missing: {self._ns_dir()}")

    # -- R1 heartbeat / R2 version ------------------------------------
    def heartbeat(self) -> int:
        """Liveness: run a trivial job, return ns-since-epoch
        (client.rs:70-91 returns the server's nanosecond heartbeat)."""
        self._preflight()
        self.spark.sql("SELECT 1").collect()
        return time.time_ns()

    def version(self) -> str:
        from chroma_rs_spark import __version__

        return f"{__version__} (spark {self.spark.version})"

    # -- R3 reset ------------------------------------------------------
    def reset(self) -> None:
        """Destroy all collections in this namespace; gated like the
        server-side ALLOW_RESET=TRUE (client.rs:261-282)."""
        self._preflight()
        if not self.allow_reset:
            raise ResetDisabledError("reset() requires allow_reset=True")
        shutil.rmtree(self._ns_dir(), ignore_errors=True)
        os.makedirs(self._ns_dir(), exist_ok=True)

    # -- R4/R5 create --------------------------------------------------
    def create_collection(
        self,
        name: str,
        metadata: dict[str, str] | None = None,
        get_or_create: bool = False,
        partition_by: str | None = None,
    ) -> Collection:
        """`partition_by` names a metadata key whose value becomes the
        hive partition of the collection's parquet layout: `where`
        filters on that key then prune whole directories at the scan
        (SURVEY.md §4 "partition pruning: Catalyst + our layout") — at
        100 TB the difference between scanning one language/source
        slice and scanning the corpus."""
        self._preflight()
        rows = self._read_registry()
        for row in rows:
            if row["name"] == name:
                if get_or_create:
                    # metadata differences are tolerated (Chroma's
                    # get_or_create semantics) but a partition-layout
                    # mismatch is not: returning an unpartitioned
                    # collection to a caller expecting pruned scans
                    # would silently defeat the feature
                    if partition_by is not None and row.get("partition_by") != partition_by:
                        raise CollectionExistsError(
                            f"collection {name!r} exists with partition_by="
                            f"{row.get('partition_by')!r}, requested {partition_by!r}"
                        )
                    return self._bind(row)
                raise CollectionExistsError(f"collection {name!r} already exists")
        row = {
            "name": name,
            "id": str(uuid.uuid4()),
            "metadata": dict(metadata) if metadata else None,
            "created_at": time.time(),
            "dim": None,  # fixed at first add
            "partition_by": partition_by,
        }
        os.makedirs(self.collection_dir(row["id"]), exist_ok=True)
        rows.append(row)
        self._write_registry(rows)
        return self._bind(row)

    def get_or_create_collection(
        self, name: str, metadata: dict[str, str] | None = None
    ) -> Collection:
        return self.create_collection(name, metadata, get_or_create=True)

    # -- R6 get --------------------------------------------------------
    def get_collection(self, name: str) -> Collection:
        self._preflight()
        for row in self._read_registry():
            if row["name"] == name:
                return self._bind(row)
        raise CollectionNotFoundError(f"collection {name!r} not found")

    # -- R7 delete -----------------------------------------------------
    def delete_collection(self, name: str) -> None:
        self._preflight()
        rows = self._read_registry()
        keep = [r for r in rows if r["name"] != name]
        if len(keep) == len(rows):
            raise CollectionNotFoundError(f"collection {name!r} not found")
        (dropped,) = [r for r in rows if r["name"] == name]
        self._write_registry(keep)
        shutil.rmtree(self.collection_dir(dropped["id"]), ignore_errors=True)

    # -- R8 list -------------------------------------------------------
    def list_collections(self) -> list[Collection]:
        self._preflight()
        return [self._bind(r) for r in self._read_registry()]

    def list_collections_df(self) -> DataFrame:
        """The registry as a DataFrame (SURVEY.md §1.2 registry table).

        Collection metadata is schemaless typed JSON in the registry
        (mirroring the reference's serde_json::Value read model,
        reference src/collection.rs:8); the DF projection is string
        typed, so non-string values are carried as their canonical JSON
        text — recoverable with collection.decode_meta_value, never a
        lossy Python repr."""
        from chroma_rs_spark.collection import _meta_str

        rows = [
            (
                r["name"],
                r["id"],
                {k: _meta_str(v) for k, v in r["metadata"].items()}
                if r.get("metadata") is not None
                else None,
                float(r["created_at"]),
            )
            for r in self._read_registry()
        ]
        return local_frame(
            self.spark,
            rows,
            "name STRING, id STRING, metadata MAP<STRING,STRING>, created_at DOUBLE",
        )

    # -- A12 modify ----------------------------------------------------
    def modify_collection(
        self,
        name: str,
        new_name: str | None = None,
        new_metadata: dict[str, str] | None = None,
    ) -> Collection:
        self._preflight()
        rows = self._read_registry()
        target = None
        for row in rows:
            if row["name"] == name:
                target = row
                break
        if target is None:
            raise CollectionNotFoundError(f"collection {name!r} not found")
        if new_name is not None:
            if any(r["name"] == new_name for r in rows if r is not target):
                raise CollectionExistsError(f"collection {new_name!r} already exists")
            target["name"] = new_name
        if new_metadata is not None:
            target["metadata"] = dict(new_metadata)
        self._write_registry(rows)
        return self._bind(target)

    # -- internal ------------------------------------------------------
    def _bind(self, row: dict) -> Collection:
        return Collection(
            name=row["name"], id=row["id"], metadata=row.get("metadata"), _engine=self
        )

    def _registry_row(self, collection_id: str) -> dict:
        for row in self._read_registry():
            if row["id"] == collection_id:
                return row
        raise CollectionNotFoundError(f"collection id {collection_id!r} not found")

    def _update_registry_row(self, collection_id: str, **updates) -> None:
        rows = self._read_registry()
        for row in rows:
            if row["id"] == collection_id:
                row.update(updates)
                self._write_registry(rows)
                return
        raise CollectionNotFoundError(f"collection id {collection_id!r} not found")
