"""Delta-protocol versioned parquet table (SURVEY.md §2.1).

The reference stack stores every medallion layer as Delta Lake tables
(ref README.md:2 "full deltalake implementation"). ``delta-spark`` is not
installed here, so this module implements the storage layer from the
PUBLIC Delta Lake protocol spec (delta-io/delta PROTOCOL.md): an ordered
``_delta_log/`` of JSON commit files holding ``protocol`` / ``metaData``
/ ``add`` / ``remove`` actions over immutable parquet data files at the
table root. Tables written here follow the spec's layout::

    <path>/_delta_log/00000000000000000000.json   commit 0 (one action/line)
    <path>/_delta_log/00000000000000000001.json   commit 1
    <path>/part-*.parquet                         data files

Capabilities the stack exercises:

- append / overwrite writes (``write``)
- read as of any version (``read(as_of=...)`` — time travel, by
  replaying add/remove actions up to that commit)
- DELETE / MERGE upsert (copy-on-write rewrites, like Delta)
- OPTIMIZE-style compaction and VACUUM of unreachable files

Scale notes (100 TB): every operation starts from one ``Snapshot``, a
single driver-side log replay (the newest parquet checkpoint, written
every ``CHECKPOINT_INTERVAL`` commits, plus the newer JSON commits),
never shipped to executors. A read takes its file list AND its schema
from that snapshot, as Delta does: the scan is a plain multi-path
parquet scan with the logged schema supplied, so no parquet footer is
opened to infer one and building the DataFrame launches no Spark job;
column pruning and predicate pushdown still fire. Commit = atomic
rename of the next numbered log file, exactly the spec's put-if-absent
contract. MERGE shuffles both sides on the key — on a cluster you'd
bucket the target by the merge key to make re-merges shuffle-free;
with delta-spark installed the same calls map 1:1 onto ``DeltaTable``
operations and these tables are readable as real Delta.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import struct
import time
import uuid
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# Deletion vectors: descriptors with at most this many deleted rows are
# stored inline in the add action (storageType "i", ascii85 payload —
# the spec's inline DV form); larger ones go to a sidecar file at the
# table root (storageType "p", path relative to the table root). The
# payload is packed little-endian uint64 row indexes, sorted — the spec
# uses a RoaringBitmap here; the container has no roaring codec, so the
# packed-array stand-in keeps the same descriptor contract (documented
# divergence, same class as the media-codec stub).
_DV_INLINE_MAX = 64

# Column-mapping (protocol §column-mapping, "name" mode): logical names
# live in the schemaString; each field's metadata pins the physical
# parquet column name, so RENAME/DROP COLUMN are metadata-only commits.
_COLUMN_MAPPING_KEY = "delta.columnMapping.mode"
_PHYSICAL_NAME_KEY = "delta.columnMapping.physicalName"

# Write a parquet checkpoint every N commits (the protocol's default
# checkpointInterval is 10): a reader then replays O(interval) JSON files
# instead of O(#commits) — the difference between O(1) and minutes of log
# replay on a 10k-commit streaming-append table.
CHECKPOINT_INTERVAL = 10

_LAST_CHECKPOINT = "_last_checkpoint"

# Above this many paths Spark lists a scan's files with a Spark job; a
# read lifts it to its own file count for the scan's construction, so the
# log's file list is stat'ed on the driver and no job runs.
_LISTING_THRESHOLD_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@contextmanager
def _session_conf(sess: SparkSession, key: str, value: str):
    """Set one session conf for the duration of a block, restoring the
    caller's value after."""
    prev = sess.conf.get(key, None)
    sess.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            sess.conf.unset(key)
        else:
            sess.conf.set(key, prev)


def _removes(paths) -> list[dict]:
    now = int(time.time() * 1000)
    return [
        {"remove": {"path": p, "deletionTimestamp": now, "dataChange": True}}
        for p in paths
    ]


class Snapshot:
    """The table state at one version, folded from ONE log replay: the
    protocol, the newest ``metaData``, the live ``add`` actions in commit
    order and the newest ``txn`` version per appId. Each public
    ``DeltaLikeTable`` operation builds one and passes it down. None is
    cached across calls: a table path can be deleted and re-created."""

    def __init__(self, version: int = -1):
        self.version = version
        self.protocol: dict = PROTOCOL
        self.metadata: dict | None = None
        self.live: dict[str, dict] = {}
        self.txns: dict[str, int] = {}

    def apply(self, actions) -> "Snapshot":
        for act in actions:
            if "protocol" in act:
                self.protocol = act["protocol"]
            elif "metaData" in act:
                self.metadata = act["metaData"]
            elif "txn" in act:
                t_ = act["txn"]
                self.txns[t_["appId"]] = max(
                    self.txns.get(t_["appId"], -1), int(t_.get("version", -1))
                )
            elif "add" in act:
                self.live[act["add"]["path"]] = act["add"]
            elif "remove" in act:
                self.live.pop(act["remove"]["path"], None)
        return self

    def advanced(self, actions: list[dict], version: int) -> "Snapshot":
        """The state after committing ``actions`` as ``version``."""
        nxt = Snapshot(version)
        nxt.protocol, nxt.metadata = self.protocol, self.metadata
        nxt.live, nxt.txns = dict(self.live), dict(self.txns)
        return nxt.apply(actions)

    @property
    def adds(self) -> list[dict]:
        return list(self.live.values())

    @property
    def configuration(self) -> dict:
        return dict((self.metadata or {}).get("configuration") or {})

    def fields(self) -> list[dict]:
        """The logged schema's fields in JSON form ([] before any metaData)."""
        if self.metadata is None:
            return []
        return json.loads(self.metadata["schemaString"])["fields"]

    def schema(self, physical: bool = False) -> StructType | None:
        """The logged schema (None before any metaData). ``physical``
        renames mapped fields to the column names the files carry."""
        if self.metadata is None:
            return None
        fields = self.fields()
        if physical:
            phys = dict(self.mapped_fields() or [])
            fields = [{**f, "name": phys.get(f["name"], f["name"])} for f in fields]
        return StructType.fromJson({"type": "struct", "fields": fields})

    def mapped_fields(self) -> list[tuple[str, str]] | None:
        """[(logical, physical)] when column mapping is active, else None.

        Physical names are what the parquet files carry; logical names
        are what readers see. The mapping lives in the schemaString's
        per-field ``delta.columnMapping.physicalName`` metadata, exactly
        the protocol's name-mapping mode."""
        if self.configuration.get(_COLUMN_MAPPING_KEY) != "name":
            return None
        return [
            (
                f["name"],
                (f.get("metadata") or {}).get(_PHYSICAL_NAME_KEY, f["name"]),
            )
            for f in self.fields()
        ]

    def check_constraints(self) -> dict[str, str]:
        prefix = "delta.constraints."
        return {
            k[len(prefix):]: v
            for k, v in self.configuration.items()
            if k.startswith(prefix)
        }

    def generated_columns(self) -> dict[str, str]:
        return {
            f["name"]: f["metadata"]["delta.generationExpression"]
            for f in self.fields()
            if (f.get("metadata") or {}).get("delta.generationExpression")
        }


def _checkpoint_arrow_schema():
    """Checkpoint rows follow the protocol's action-struct shape (one
    struct column per action type, exactly one non-null per row)."""
    import pyarrow as pa

    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct(
                    [
                        ("appId", pa.string()),
                        ("version", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("sizeInBytes", pa.int64()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
        ]
    )


def _file_stats(path: str) -> str:
    """Per-file column statistics for the add action's ``stats`` field
    (the protocol stores them as a JSON string): numRecords plus
    min/maxValues per leaf column, read from the parquet footer — no
    data pages touched. Readers use them for data skipping."""
    import datetime

    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata

    def _jsonable(v):
        if isinstance(v, datetime.datetime):
            # normalize to a naive UTC instant so stats compare cleanly
            # against naive bounds (the session tz is pinned UTC)
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return str(v)
        if isinstance(v, datetime.date):
            return str(v)
        if isinstance(v, bytes):
            return v.decode("utf-8", "replace")
        return v

    raw_min: dict = {}
    raw_max: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if name not in raw_min or st.min < raw_min[name]:
                raw_min[name] = st.min
            if name not in raw_max or st.max > raw_max[name]:
                raw_max[name] = st.max
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": {k: _jsonable(v) for k, v in raw_min.items()},
            "maxValues": {k: _jsonable(v) for k, v in raw_max.items()},
        }
    )


class DeltaLikeTable:
    def __init__(self, path: str):
        self.path = path
        self._log_dir = os.path.join(path, "_delta_log")

    # -- commit log -------------------------------------------------------
    def _commit_files(self) -> list[str]:
        if not os.path.isdir(self._log_dir):
            return []
        return sorted(
            f for f in os.listdir(self._log_dir)
            if f.endswith(".json") and not f.startswith(".")
        )

    def _last_checkpoint(self) -> dict | None:
        try:
            with open(os.path.join(self._log_dir, _LAST_CHECKPOINT)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _read_checkpoint(self, version: int) -> list[dict]:
        import pyarrow.parquet as pq

        path = os.path.join(self._log_dir, f"{version:020d}.checkpoint.parquet")
        acts: list[dict] = []
        for row in pq.read_table(path).to_pylist():
            for kind in ("protocol", "metaData", "txn", "add"):
                val = row.get(kind)
                if val is None:
                    continue
                if kind in ("add", "metaData"):
                    # arrow returns maps as [(key, value)] lists
                    key = "partitionValues" if kind == "add" else "configuration"
                    val = {**val, key: dict(val.get(key) or [])}
                acts.append({kind: val})
        return acts

    def _write_checkpoint(self, snap: Snapshot) -> None:
        """Compact the state ``snap`` holds into
        ``<v>.checkpoint.parquet`` + ``_last_checkpoint`` (both the
        protocol's names): protocol, latest metaData, the newest txn per
        appId (so idempotent writers stay deduped past checkpointed
        commits) and the live add set, so a reader starts there and only
        replays newer JSON commits. JSON commit files are kept
        (history/time-travel before the checkpoint still works); VACUUM
        owns physical cleanup."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        version = snap.version
        rows: list[dict] = [{"protocol": snap.protocol}, {"metaData": snap.metadata}]
        rows += [
            {"txn": {"appId": k, "version": v}} for k, v in sorted(snap.txns.items())
        ]
        rows += [{"add": a} for a in snap.adds]
        schema = _checkpoint_arrow_schema()
        cols: dict[str, list] = {name: [] for name in schema.names}
        for row in rows:
            for name in schema.names:
                val = row.get(name)
                if name == "add" and val is not None:
                    val = {**val, "partitionValues": list(
                        (val.get("partitionValues") or {}).items()
                    )}
                if name == "metaData" and val is not None:
                    val = {
                        "id": val.get("id"),
                        "format": {"provider": val.get("format", {}).get("provider")},
                        "schemaString": val.get("schemaString"),
                        "partitionColumns": val.get("partitionColumns", []),
                        "configuration": list(
                            (val.get("configuration") or {}).items()
                        ),
                        "createdTime": val.get("createdTime"),
                    }
                cols[name].append(val)
        table = pa.Table.from_pydict(cols, schema=schema)
        cp_path = os.path.join(
            self._log_dir, f"{version:020d}.checkpoint.parquet"
        )
        tmp = cp_path + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(table, tmp)
        os.replace(tmp, cp_path)
        lc_tmp = os.path.join(self._log_dir, f".lc-{uuid.uuid4().hex}")
        with open(lc_tmp, "w") as f:
            json.dump({"version": version, "size": len(rows)}, f)
        os.replace(lc_tmp, os.path.join(self._log_dir, _LAST_CHECKPOINT))

    def snapshot(self, as_of: int | None = None) -> Snapshot:
        """The table state at version ``as_of`` (default: latest), from
        ONE log replay. Starts from the newest parquet checkpoint at or
        before that version when one exists — pre-checkpoint JSON
        commits are never opened — and falls back to full JSON replay
        otherwise (e.g. time travel to a version older than the
        checkpoint).

        PROTOCOL.md reader requirement: a client MUST refuse to read a
        table whose protocol action demands a reader version above what
        it implements — silently proceeding returns wrong results once
        an unsupported feature (e.g. deletion vectors at reader v3 in
        real Delta) changes file interpretation. Checked on every replay
        so a foreign writer's protocol upgrade mid-log is honored."""
        files = self._commit_files()
        version = len(files) - 1 if as_of is None else min(as_of, len(files) - 1)
        snap, start = Snapshot(version), 0
        cp = self._last_checkpoint()
        if cp is not None and cp["version"] <= version:
            try:
                snap.apply(self._read_checkpoint(cp["version"]))
                start = cp["version"] + 1
            except OSError:
                pass
        for fname in files[start : version + 1]:
            with open(os.path.join(self._log_dir, fname)) as f:
                snap.apply(json.loads(ln) for ln in f if ln.strip())
        supported = PROTOCOL["minReaderVersion"]
        if int(snap.protocol.get("minReaderVersion") or 1) > supported:
            raise ValueError(
                f"table at {self.path} requires minReaderVersion "
                f"{snap.protocol['minReaderVersion']}; this reader supports "
                f"{supported} — upgrade the reader, do not guess"
            )
        return snap

    def _active_files(self, as_of: int | None = None) -> list[dict]:
        """The live ``add`` set at a version."""
        return self.snapshot(as_of).adds

    def _state_after(
        self, base: Snapshot | None, actions: list[dict], version: int
    ) -> Snapshot:
        """The state ``version`` commits: ``base`` advanced by ``actions``
        when the commit directly follows it (no other writer got in
        between), else a replay."""
        if base is not None and version == base.version + 1:
            return base.advanced(actions, version)
        return self.snapshot(version)

    def _commit(
        self,
        actions: list[dict],
        operation: str | None = None,
        base: Snapshot | None = None,
    ) -> int:
        """Optimistic-concurrency commit (the spec's put-if-absent
        contract): stage the actions to a temp file, then publish with
        ``os.link`` — which FAILS if the target commit number already
        exists (``os.replace`` would silently clobber a concurrent
        writer's commit). On collision, re-read the log and retry at the
        next version, exactly Delta's optimistic retry loop. Object
        stores swap the hard-link for their native if-none-match put.
        ``base`` is the snapshot the actions were built from; a
        checkpoint is folded from it instead of a fresh replay."""
        os.makedirs(self._log_dir, exist_ok=True)
        tmp = os.path.join(self._log_dir, f".tmp-{uuid.uuid4().hex}")
        while True:
            version = len(self._commit_files())
            staged = actions
            if not any("commitInfo" in a for a in staged):
                # The spec's commitInfo action: carries the commit
                # timestamp (ms) that timestampAsOf resolves against, so
                # resolution does not depend on filesystem mtimes
                # surviving copies/restores, plus the operation name
                # DESCRIBE HISTORY reports. Replay ignores it.
                ci: dict = {"timestamp": int(time.time() * 1000)}
                if operation is not None:
                    ci["operation"] = operation
                staged = [{"commitInfo": ci}, *staged]
            if version == 0:
                staged = [{"protocol": PROTOCOL}, *staged]
            with open(tmp, "w") as f:
                for act in staged:
                    f.write(json.dumps(act) + "\n")
            final = os.path.join(self._log_dir, f"{version:020d}.json")
            try:
                os.link(tmp, final)  # atomic put-if-absent
            except FileExistsError:
                continue  # lost the race — recompute version and retry
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)
            if version > 0 and version % CHECKPOINT_INTERVAL == 0:
                self._write_checkpoint(self._state_after(base, actions, version))
            return version

    def commit_timestamp(self, version: int) -> int:
        """Commit timestamp in epoch-ms: the commitInfo action's
        timestamp when present (written by every commit since r4), else
        the log file's mtime — the same fallback Delta itself uses for
        tables whose writers predate in-commit timestamps."""
        path = os.path.join(self._log_dir, f"{version:020d}.json")
        with open(path) as f:
            for ln in f:
                act = json.loads(ln)
                if "commitInfo" in act:
                    ts = act["commitInfo"].get("timestamp")
                    if ts is not None:
                        return int(ts)
        return int(os.path.getmtime(path) * 1000)

    def history(self) -> list[dict]:
        """``DESCRIBE HISTORY`` — one row per commit, newest first (the
        order Delta presents), from the commitInfo actions alone: O(log)
        driver work, no data file is opened. Commits written before the
        operation field existed report the protocol's placeholder."""
        rows = []
        for v in range(self.latest_version + 1):
            path = os.path.join(self._log_dir, f"{v:020d}.json")
            op = None
            with open(path) as f:
                for ln in f:
                    act = json.loads(ln)
                    if "commitInfo" in act:
                        op = act["commitInfo"].get("operation")
                        break
            rows.append(
                {
                    "version": v,
                    "timestamp": self.commit_timestamp(v),
                    "operation": op or "WRITE",
                }
            )
        rows.reverse()
        return rows

    def version_at_timestamp(self, ts_ms: int) -> int:
        """``TIMESTAMP AS OF`` resolution: the LATEST version whose
        commit timestamp is <= ``ts_ms`` (Delta's rule — a reader at time
        T sees every commit that had completed by T). Errors if ``ts_ms``
        predates the first commit, like Delta's
        ``timestampAsOf`` on a too-early timestamp."""
        resolved: int | None = None
        for v in range(self.latest_version + 1):
            if self.commit_timestamp(v) <= ts_ms:
                resolved = v
            else:
                break  # commit timestamps are monotonic
        if resolved is None:
            raise ValueError(
                f"timestamp {ts_ms} is before the first commit "
                f"({self.commit_timestamp(0)}) of {self.path}"
            )
        return resolved

    @property
    def latest_version(self) -> int:
        return len(self._commit_files()) - 1

    # -- writes -----------------------------------------------------------
    def _stage_data_files(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> list[dict]:
        """Write ``df``'s parquet files into the table root; return their
        ``add`` actions. Spark part-file names embed a job UUID, so moved
        files never collide. With ``partition_by``, files land under
        hive-style ``col=value/`` directories and each ``add`` carries
        the spec's ``partitionValues`` map — the metadata a reader prunes
        on without listing or opening any file."""
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        # Spark's default INT96 timestamps carry NO parquet min/max
        # statistics — data skipping on a temporal column (the 100 TB
        # win) would silently never fire. Write TIMESTAMP_MICROS (what
        # Delta itself writes) for the duration of the stage.
        with _session_conf(
            df.sparkSession,
            "spark.sql.parquet.outputTimestampType",
            "TIMESTAMP_MICROS",
        ):
            writer.parquet(tmp)
        now = int(time.time() * 1000)
        adds = []
        for dirpath, _dirs, fnames in sorted(os.walk(tmp)):
            for fname in sorted(fnames):
                if not fname.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, fname), tmp)
                pvals = dict(
                    part.split("=", 1)
                    for part in rel.split(os.sep)[:-1]
                    if "=" in part
                )
                dst = os.path.join(self.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(dirpath, fname), dst)
                adds.append(
                    {
                        "add": {
                            "path": rel.replace(os.sep, "/"),
                            "partitionValues": pvals,
                            "size": os.path.getsize(dst),
                            "modificationTime": now,
                            "dataChange": True,
                            "stats": _file_stats(dst),
                        }
                    }
                )
        shutil.rmtree(tmp)
        return adds

    def _metadata_action(
        self,
        df: DataFrame,
        snap: Snapshot,
        mode: str,
        partition_by: list[str] | None = None,
    ) -> dict:
        """The metaData a write commits. Per-field metadata (generation
        expressions, column-mapping physical names) carries over from the
        logged schema — df.schema alone would drop it. An append keeps
        every logged field (a frame that omits a nullable column must not
        shrink the table's schema) and adds only the evolved columns; an
        overwrite takes ``df``'s fields."""
        logged = snap.fields()
        by_name = {f["name"]: f for f in logged}
        incoming = json.loads(df.schema.json())["fields"]
        if mode == "append":
            fields = logged + [f for f in incoming if f["name"] not in by_name]
        else:
            fields = [
                {
                    **f,
                    "metadata": {
                        **(by_name.get(f["name"], {}).get("metadata") or {}),
                        **(f.get("metadata") or {}),
                    },
                }
                for f in incoming
            ]
        return {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps({"type": "struct", "fields": fields}),
                "partitionColumns": partition_by or [],
                # Table configuration (constraints, properties) survives
                # writes — only explicit ALTERs change it, as in Delta.
                "configuration": snap.configuration,
                "createdTime": int(time.time() * 1000),
            }
        }

    def _alter_base(self) -> tuple[Snapshot, dict]:
        """The latest snapshot and a copy of its metaData, for an ALTER."""
        snap = self.snapshot()
        if snap.metadata is None:
            raise ValueError(f"cannot ALTER empty table {self.path}")
        return snap, dict(snap.metadata)

    def _alter_configuration(self, update: dict[str, str], operation: str) -> int:
        snap, meta = self._alter_base()
        meta["configuration"] = {**snap.configuration, **update}
        return self._commit([{"metaData": meta}], operation=operation, base=snap)

    def add_check_constraint(self, name: str, expr_sql: str) -> int:
        """``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)``: stored
        as ``delta.constraints.<name>`` in the metaData configuration
        (the protocol's representation), enforced by every subsequent
        write. Metadata-only commit — O(1) regardless of table size."""
        return self._alter_configuration(
            {f"delta.constraints.{name}": expr_sql}, "ADD CONSTRAINT"
        )

    def set_properties(self, props: dict[str, str]) -> int:
        """``ALTER TABLE ... SET TBLPROPERTIES``: merge key/values into
        the metaData configuration — one metadata-only commit, O(1) in
        table size, and (like constraints) the configuration is carried
        forward by every subsequent write."""
        return self._alter_configuration(
            {str(k): str(v) for k, v in props.items()}, "SET TBLPROPERTIES"
        )

    def properties(self) -> dict[str, str]:
        return self.snapshot().configuration

    def check_constraints(self) -> dict[str, str]:
        return self.snapshot().check_constraints()

    def _enforce_constraints(self, df: DataFrame, snap: Snapshot) -> None:
        """CHECK semantics (SQL standard, as Delta enforces them): a row
        violates only when the expression evaluates FALSE — NULL passes.
        The probe is a limit-1 existence scan per constraint pushed into
        the incoming frame's plan, so a clean 100 TB append costs one
        extra pass over the NEW data only, never the table."""
        for name, expr in snap.check_constraints().items():
            bad = df.filter(F.expr(expr).eqNullSafe(F.lit(False))).limit(1)
            if bad.count() > 0:
                raise ValueError(
                    f"CHECK constraint {name} ({expr}) violated by write "
                    f"to {self.path}"
                )

    # -- column mapping (metadata-only rename / drop) ----------------------
    def _mapping_metadata_action(
        self, meta: dict, fields: list[dict]
    ) -> dict:
        sj = json.loads(meta["schemaString"])
        sj["fields"] = fields
        cfg = {
            **(meta.get("configuration") or {}),
            _COLUMN_MAPPING_KEY: "name",
        }
        return {
            "metaData": {
                **meta,
                "schemaString": json.dumps(sj),
                "configuration": cfg,
            }
        }

    def _guard_constraint_references(
        self, col: str, action: str, snap: Snapshot
    ) -> None:
        """Refuse ALTERs on a column a CHECK constraint or a generated
        column's expression references (the stored expressions name the
        LOGICAL column; renaming or dropping it would silently break
        enforcement — or, for generation expressions, make every later
        write fail with an opaque unresolved-column error — Delta blocks
        both). Dropping the generated column ITSELF stays legal: only
        references from OTHER columns' expressions block the ALTER."""
        import re

        for name, expr in snap.check_constraints().items():
            if re.search(rf"\b{re.escape(col)}\b", expr):
                raise ValueError(
                    f"cannot {action} column {col!r}: referenced by CHECK "
                    f"constraint {name!r} ({expr}); DROP CONSTRAINT first"
                )
        for gname, expr in snap.generated_columns().items():
            if gname == col:
                continue
            if re.search(rf"\b{re.escape(col)}\b", expr):
                raise ValueError(
                    f"cannot {action} column {col!r}: referenced by "
                    f"generated column {gname!r} (GENERATED ALWAYS AS "
                    f"({expr})); drop that column first"
                )

    def add_generated_column(
        self, name: str, expr_sql: str, dtype: str = "timestamp"
    ) -> int:
        """``ALTER TABLE ... ADD COLUMN name GENERATED ALWAYS AS (expr)``
        — the generation expression lives in the field's schemaString
        metadata (``delta.generationExpression``, the protocol's form).
        Every subsequent write COMPUTES the column when the writer omits
        it and VALIDATES it when the writer supplies it (a mismatching
        value is rejected atomically), so derived partitioning/bucketing
        keys stay trustworthy however many writers feed the table.
        Metadata-only commit."""
        snap, meta = self._alter_base()
        sj = json.loads(meta["schemaString"])
        if name in [f["name"] for f in sj["fields"]]:
            raise ValueError(f"column {name!r} already exists")
        sj["fields"].append(
            {
                "name": name,
                "type": dtype,
                "nullable": True,
                "metadata": {"delta.generationExpression": expr_sql},
            }
        )
        return self._commit(
            [{"metaData": {**meta, "schemaString": json.dumps(sj)}}],
            operation="ADD COLUMN",
            base=snap,
        )

    def _generated_columns(self) -> dict[str, str]:
        return self.snapshot().generated_columns()

    def _apply_generated_columns(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        for name, expr in snap.generated_columns().items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                bad = (
                    df.filter(~F.col(name).eqNullSafe(F.expr(expr)))
                    .limit(1)
                    .count()
                )
                if bad:
                    raise ValueError(
                        f"generated column {name!r} violated: supplied "
                        f"values differ from GENERATED ALWAYS AS ({expr})"
                    )
        return df

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE ... RENAME COLUMN`` — METADATA-ONLY (protocol
        column-mapping, name mode): the parquet files keep the original
        physical column name; only the logical→physical mapping in the
        schemaString changes, so renaming a column of a 100 TB table is
        one O(1) metaData commit, no file touched. Readers re-alias at
        scan time (a projection Catalyst collapses into the scan)."""
        snap, meta = self._alter_base()
        self._guard_constraint_references(old, "rename", snap)
        fields = snap.fields()
        names = [f["name"] for f in fields]
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        for f in fields:
            md = f.setdefault("metadata", {})
            md.setdefault(_PHYSICAL_NAME_KEY, f["name"])
            if f["name"] == old:
                f["name"] = new
        return self._commit(
            [self._mapping_metadata_action(meta, fields)],
            operation="RENAME COLUMN",
            base=snap,
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE ... DROP COLUMN`` — metadata-only, like rename:
        the field leaves the logical schema; the physical column stays in
        the files (unreachable, reclaimed at the next rewrite), which is
        how Delta drops a column from a 100 TB table instantly."""
        snap, meta = self._alter_base()
        self._guard_constraint_references(name, "drop", snap)
        fields = snap.fields()
        if name not in [f["name"] for f in fields]:
            raise ValueError(f"no column {name!r}")
        kept = []
        for f in fields:
            md = f.setdefault("metadata", {})
            md.setdefault(_PHYSICAL_NAME_KEY, f["name"])
            if f["name"] != name:
                kept.append(f)
        return self._commit(
            [self._mapping_metadata_action(meta, kept)],
            operation="DROP COLUMN",
            base=snap,
        )

    def _enforce_schema(
        self, df: DataFrame, snap: Snapshot, merge_schema: bool
    ) -> None:
        """Delta's schema-on-write: an append may not change a column's
        type, and may only ADD columns when schema merging is opted in
        (``mergeSchema``). Missing nullable columns are allowed (they
        read as NULL). Overwrites replace the schema freely."""
        current = snap.schema()
        if current is None:
            return
        cur = {f.name: f.dataType for f in current.fields}
        inc = {f.name: f.dataType for f in df.schema.fields}
        mismatched = sorted(
            n for n in cur.keys() & inc.keys() if cur[n] != inc[n]
        )
        if mismatched:
            raise ValueError(
                f"schema mismatch on append to {self.path}: column types "
                f"changed for {mismatched} (overwrite to change types)"
            )
        extra = sorted(inc.keys() - cur.keys())
        if extra and not merge_schema:
            raise ValueError(
                f"append to {self.path} adds columns {extra}; pass "
                "merge_schema=True to evolve the schema"
            )

    def last_txn_version(self, app_id: str) -> int:
        """Highest committed ``txn`` version for ``app_id`` (-1 if none).

        The protocol's application-transaction action: a writer stamps
        each commit with (appId, version) and skips any batch at or
        below the stored high-water mark — exactly-once sink semantics
        for streaming/retry loops without an external ledger."""
        return self.snapshot().txns.get(app_id, -1)

    def write_idempotent(
        self,
        df: DataFrame,
        app_id: str,
        app_version: int,
        mode: str = "append",
        **kw,
    ) -> tuple[int, bool]:
        """Idempotent write: commit ``df`` stamped with a ``txn`` action
        unless (app_id, app_version) was already committed — a replayed
        micro-batch or retried job lands exactly once. Returns
        (table version, wrote?). The txn stamp rides in the SAME commit
        as the data, so the dedup check and the data are atomic.
        (Multi-writer note: like Delta, a concurrent writer race is
        resolved by commit-time conflict rules; this layer's put-if-
        absent commit serializes writers, and the loser's retry re-reads
        the log — which then contains the winner's txn stamp.)"""
        snap = self.snapshot()
        if app_version <= snap.txns.get(app_id, -1):
            return snap.version, False
        post = self._write(
            df,
            snap,
            mode=mode,
            txn={"appId": app_id, "version": int(app_version)},
            **kw,
        )
        return post.version, True

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
        operation: str | None = None,
        txn: dict | None = None,
    ) -> int:
        """Commit ``df`` as a new version; returns the version number."""
        return self._write(
            df, self.snapshot(), mode, partition_by, merge_schema, operation, txn
        ).version

    def _write(
        self,
        df: DataFrame,
        snap: Snapshot,
        mode: str = "append",
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
        operation: str | None = None,
        txn: dict | None = None,
    ) -> Snapshot:
        """``write`` against the state ``snap``; returns the committed
        state."""
        assert mode in ("append", "overwrite")
        if operation is None:
            operation = "WRITE" if mode == "append" else "OVERWRITE"
        df = self._apply_generated_columns(df, snap)
        if mode == "append":
            self._enforce_schema(df, snap, merge_schema)
        self._enforce_constraints(df, snap)
        os.makedirs(self.path, exist_ok=True)
        actions = _removes(snap.live) if mode == "overwrite" else []
        actions.extend(
            self._stage_data_files(self._physicalize(df, snap), partition_by)
        )
        actions.append(self._metadata_action(df, snap, mode, partition_by))
        if txn is not None:
            actions.append({"txn": txn})
        version = self._commit(actions, operation=operation, base=snap)
        return self._state_after(snap, actions, version)

    def write_dynamic_partition_overwrite(
        self,
        df: DataFrame,
        partition_by: list[str],
        operation: str = "DYNAMIC PARTITION OVERWRITE",
    ) -> int:
        """Replace ONLY the partitions ``df`` writes into, atomically —
        Delta's ``partitionOverwriteMode=dynamic`` / replaceWhere-on-
        partition-columns: stage ``df``'s files first, collect the
        partitionValues they landed in, and remove exactly the active
        files whose partitionValues match one of them. Untouched
        partitions' files are not rewritten, re-added, or even listed
        beyond the O(live add actions) log walk — at 100 TB a one-day
        backfill commits O(that day's files), never O(table). The
        remove+add pair is one commit, so readers never see a gap."""
        snap = self.snapshot()
        df = self._apply_generated_columns(df, snap)
        self._enforce_schema(df, snap, False)
        self._enforce_constraints(df, snap)
        adds = self._stage_data_files(self._physicalize(df, snap), partition_by)
        touched = {
            tuple(sorted(a["add"]["partitionValues"].items())) for a in adds
        }
        actions = _removes(
            a["path"]
            for a in snap.adds
            if tuple(sorted((a.get("partitionValues") or {}).items()))
            in touched
        )
        actions.extend(adds)
        actions.append(self._metadata_action(df, snap, "append", partition_by))
        return self._commit(actions, operation=operation, base=snap)

    def _physicalize(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Under column mapping, writers receive LOGICAL names but files
        must carry PHYSICAL names (so old files and new files agree);
        ``_metadata_action`` carries the mapping into the new schema."""
        mapping = snap.mapped_fields()
        if not mapping:
            return df
        phys = dict(mapping)
        return df.select([F.col(c).alias(phys.get(c, c)) for c in df.columns])

    # -- reads ------------------------------------------------------------
    def live_files(
        self,
        as_of: int | None = None,
        partition_filter: dict[str, str] | None = None,
        stats_filter: dict[str, tuple] | None = None,
    ) -> list[dict]:
        """The add actions a ``read`` with these filters would open.

        Pure log-metadata work (no file is listed or opened) — this is
        both the pruning step ``read`` runs and the evaluation surface a
        clustering decision needs: ``len(live_files(stats_filter=...))``
        is the file-scan cost of a predicate under the current layout,
        which is how OPTIMIZE ZORDER's benefit is measured at 100 TB
        without touching data."""
        return self._prune(
            self.snapshot(as_of).adds, partition_filter, stats_filter
        )

    @staticmethod
    def _prune(
        active: list[dict],
        partition_filter: dict[str, str] | None,
        stats_filter: dict[str, tuple] | None,
    ) -> list[dict]:
        if partition_filter:
            active = [
                a
                for a in active
                if all(
                    a.get("partitionValues", {}).get(k) == v
                    for k, v in partition_filter.items()
                )
            ]
        if not stats_filter:
            return active

        def comparable(x, y):
            """Coerce a (file-stat, bound) pair to comparable types.

            Stats land in the log as JSON strings for temporal
            columns; a lexicographic compare would prune a file whose
            min is '2000-01-01 00:00:00' against hi='2000-01-01' even
            though the instants are equal. Parse both sides as ISO
            timestamps when possible (a bare date parses as its
            midnight instant); on any parse failure fall back to the
            raw values, which keeps numeric stats exact."""
            import datetime as _dt

            def parse(v):
                if isinstance(v, _dt.datetime):
                    dt = v
                elif isinstance(v, _dt.date):
                    dt = _dt.datetime(v.year, v.month, v.day)
                elif isinstance(v, str):
                    dt = _dt.datetime.fromisoformat(v.replace("T", " "))
                else:
                    raise ValueError
                if dt.tzinfo is not None:  # aware → naive UTC instant
                    dt = dt.astimezone(_dt.timezone.utc).replace(
                        tzinfo=None
                    )
                return dt
            try:
                return parse(x), parse(y)
            except (ValueError, TypeError):
                return x, y

        def overlaps(a: dict) -> bool:
            raw = a.get("stats")
            if not raw:
                return True  # no stats → cannot skip
            st = json.loads(raw)
            for col, (lo, hi) in stats_filter.items():
                fmin = st.get("minValues", {}).get(col)
                fmax = st.get("maxValues", {}).get(col)
                if fmin is None or fmax is None:
                    continue
                if hi is not None:
                    a_, b_ = comparable(fmin, hi)
                    if a_ > b_:
                        return False
                if lo is not None:
                    a_, b_ = comparable(fmax, lo)
                    if a_ < b_:
                        return False
            return True

        return [a for a in active if overlaps(a)]

    def read(
        self,
        spark: SparkSession,
        as_of: int | None = None,
        partition_filter: dict[str, str] | None = None,
        stats_filter: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Table state at version ``as_of`` (default: latest). The file
        list AND the schema come from one log replay: the scan is given
        the logged schema, so no parquet footer is opened to infer one and
        building the DataFrame launches no Spark job. Files written before
        a schema evolved read the columns they lack as NULL.

        ``partition_filter`` ({col: value}) prunes on the log's
        ``partitionValues`` metadata BEFORE any file is listed or opened
        — Delta's partition pruning: selecting one partition of a 100 TB
        table costs O(live add actions) driver work and reads only that
        partition's files. Filtered reads use a ``basePath`` so hive
        partition columns re-materialize in the DataFrame.

        ``stats_filter`` ({col: (lo, hi)}) is Delta's data skipping:
        drop files whose per-file min/max (the add action's ``stats``)
        cannot overlap [lo, hi]. Conservative — files without stats are
        kept, and the caller still applies the row-level filter; the
        win is unopened files, which on a date-sorted 100 TB table is
        most of them."""
        return self._read(spark, self.snapshot(as_of), partition_filter, stats_filter)

    def _read(
        self,
        spark: SparkSession,
        snap: Snapshot,
        partition_filter: dict[str, str] | None = None,
        stats_filter: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """``read`` of the state ``snap``."""
        if snap.version < 0:
            raise ValueError(f"empty table at {self.path}")
        unpruned = snap.adds
        if not unpruned:
            raise ValueError(
                f"no live files at version {snap.version} in {self.path}"
            )
        partitioned = any(a.get("partitionValues") for a in unpruned)
        active = self._prune(unpruned, partition_filter, stats_filter)

        def base_path(paths: list[str]) -> str:
            """basePath for hive partition-column re-materialization.

            A shallow clone's add actions carry ABSOLUTE paths under the
            SOURCE table's root, so the clone's own root is not an
            ancestor of them (Spark rejects that basePath outright).
            Derive the base from the files instead: strip the filename
            and every trailing ``col=value`` partition segment, then take
            the common ancestor — for an ordinary table this is exactly
            the table root; for a clone it is the source root; for a
            clone plus its own appends it is their common ancestor, safe
            because only ``k=v`` segments below basePath become
            partition columns."""
            roots = set()
            for p in paths:
                d = os.path.dirname(os.path.abspath(p))
                while "=" in os.path.basename(d):
                    d = os.path.dirname(d)
                roots.add(d)
            return os.path.commonpath(sorted(roots))

        files = [os.path.join(self.path, a["path"]) for a in active]
        # every file pruned away: an EMPTY relation with the table schema,
        # not an error (a filter can match nothing)
        scan = files or [os.path.join(self.path, unpruned[0]["path"])]
        reader = spark.read
        schema = snap.schema(physical=True)
        if schema is not None:
            reader = reader.schema(schema)
        if partitioned:
            reader = reader.option("basePath", base_path(scan))
        listing = (
            # 32 is Spark's default threshold
            _session_conf(spark, _LISTING_THRESHOLD_KEY, str(len(scan)))
            if len(scan) > 32
            else nullcontext()
        )
        with listing:
            df = reader.parquet(*scan)
        if not files:
            df = df.limit(0)
        dv_adds = [a for a in active if a.get("deletionVector")]
        if dv_adds:
            df = self._apply_deletion_vectors(spark, df, dv_adds)
        mapping = snap.mapped_fields()
        if mapping:
            # physical→logical re-alias (and dropped-column subset): a
            # projection Catalyst collapses into the scan — column
            # pruning still reaches the parquet reader
            df = df.select(
                [F.col(p).alias(l) for l, p in mapping if p in df.columns]
            )
        return df

    def _dv_file_uri(self, add: dict) -> str:
        """The ``_metadata.file_path`` URI of an add action's data file
        (Spark renders local paths as ``file:`` + abspath)."""
        p = add["path"]
        full = p if os.path.isabs(p) else os.path.join(self.path, p)
        return "file:" + os.path.abspath(full)

    def _load_dv(self, desc: dict) -> list[int]:
        """Deleted row indexes from a deletionVector descriptor."""
        if desc["storageType"] == "i":
            payload = base64.a85decode(desc["pathOrInlineDv"])
        else:
            p = desc["pathOrInlineDv"]
            full = p if os.path.isabs(p) else os.path.join(self.path, p)
            with open(full, "rb") as f:
                payload = f.read()
        return list(struct.unpack(f"<{len(payload) // 8}Q", payload))

    def _apply_deletion_vectors(
        self, spark: SparkSession, df: DataFrame, dv_adds: list[dict]
    ) -> DataFrame:
        """Mask DV'd rows: broadcast anti-join on (file URI, row index).

        The deleted-pair set is bounded by the DV-delete cardinality cap,
        so at 100 TB this is a broadcast of the (small) deleted set
        against the scan — rows are dropped at the first stage, no
        shuffle. ``_metadata.row_index`` is the physical row position the
        descriptors index, provided by the parquet reader for free."""
        pairs = [
            (self._dv_file_uri(a), int(ri))
            for a in dv_adds
            for ri in self._load_dv(a["deletionVector"])
        ]
        dv_df = spark.createDataFrame(pairs, "_dv_fp string, _dv_ri long")
        masked = (
            df.withColumn("_fp", F.col("_metadata.file_path"))
            .withColumn("_ri", F.col("_metadata.row_index"))
            .join(
                F.broadcast(dv_df),
                (F.col("_fp") == F.col("_dv_fp"))
                & (F.col("_ri") == F.col("_dv_ri")),
                "left_anti",
            )
            .drop("_fp", "_ri")
        )
        return masked

    # -- DML --------------------------------------------------------------
    def delete(self, spark: SparkSession, condition) -> DataFrame:
        """Delta ``DELETE WHERE condition``: commit the surviving rows as
        a new overwrite version (copy-on-write, like Delta's file
        rewrite); history stays time-travelable. Returns the new state.
        """
        # Delta DELETE removes rows where the predicate is TRUE; rows where
        # it evaluates NULL are KEPT (plain ~condition would drop them).
        snap = self.snapshot()
        kept = self._read(spark, snap).filter(~condition.eqNullSafe(True))
        post = self._write(kept, snap, mode="overwrite", operation="DELETE")
        return self._read(spark, post)

    def delete_with_dv(
        self,
        spark: SparkSession,
        condition,
        max_cardinality: int = 100_000,
    ) -> int:
        """Delta ``DELETE`` via deletion vectors: instead of rewriting
        every touched file (copy-on-write ``delete``), commit the SAME
        data files re-added with a ``deletionVector`` descriptor naming
        the deleted row positions — the merge-on-read path. A point
        delete on a 100 TB table then costs O(matched rows) instead of
        O(touched files' bytes): no data file is rewritten, and readers
        mask the dead rows with a broadcast anti-join on
        (file, row_index).

        NULL-predicate rows are kept (SQL DELETE semantics, same as
        ``delete``). Existing DVs union with the new deletions (row
        indexes are physical file positions, stable across commits).
        Deletes larger than ``max_cardinality`` rows per file refuse and
        direct the caller to the rewrite path — the same heuristic real
        engines apply, since a mostly-dead file is better rewritten.
        Partitioned tables use ``delete`` (hive-materialized partition
        columns are not in the physical file, so the predicate could not
        be evaluated against raw per-file reads uniformly)."""
        snap = self.snapshot()
        active = snap.adds
        if any(a.get("partitionValues") for a in active):
            raise ValueError(
                "DV delete on partitioned tables is not supported; "
                "use delete() (copy-on-write)"
            )
        by_uri = {self._dv_file_uri(a): a for a in active}
        files = [
            os.path.join(self.path, a["path"])
            if not os.path.isabs(a["path"])
            else a["path"]
            for a in active
        ]
        base = (
            spark.read.schema(snap.schema(physical=True))
            .parquet(*files)
            .withColumn("_fp", F.col("_metadata.file_path"))
            .withColumn("_ri", F.col("_metadata.row_index"))
        )
        mapping = snap.mapped_fields()
        if mapping:
            # the raw scan carries PHYSICAL names; the caller's predicate
            # speaks LOGICAL — re-alias before evaluating it
            base = base.select(
                [F.col(p).alias(l) for l, p in mapping if p in base.columns]
                + [F.col("_fp"), F.col("_ri")]
            )
        # Rows already masked by an existing DV may re-match the
        # predicate here; the per-file union with the OLD index set below
        # makes that a no-op rather than a double delete.
        hits = (
            base.filter(condition.eqNullSafe(True))
            .groupBy("_fp")
            .agg(F.sort_array(F.collect_list("_ri")).alias("idxs"))
            .collect()
        )  # bounded: ≤ max_cardinality rows per file, checked below
        actions: list[dict] = []
        for row in hits:
            add = by_uri.get(row["_fp"])
            if add is None:
                continue
            old = (
                set(self._load_dv(add["deletionVector"]))
                if add.get("deletionVector")
                else set()
            )
            idxs = sorted(old | {int(i) for i in row["idxs"]})
            if len(idxs) - len(old) == 0:
                continue  # every matched row was already deleted
            if len(idxs) > max_cardinality:
                raise ValueError(
                    f"DV for {add['path']} would hold {len(idxs)} rows "
                    f"(> {max_cardinality}); rewrite with delete() instead"
                )
            payload = struct.pack(f"<{len(idxs)}Q", *idxs)
            if len(idxs) <= _DV_INLINE_MAX:
                desc = {
                    "storageType": "i",
                    "pathOrInlineDv": base64.a85encode(payload).decode(),
                    "sizeInBytes": len(payload),
                    "cardinality": len(idxs),
                }
            else:
                name = f"deletion_vector_{uuid.uuid4().hex}.bin"
                tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
                with open(tmp, "wb") as f:
                    f.write(payload)
                os.replace(tmp, os.path.join(self.path, name))
                desc = {
                    "storageType": "p",
                    "pathOrInlineDv": name,
                    "sizeInBytes": len(payload),
                    "cardinality": len(idxs),
                }
            actions.extend(_removes([add["path"]]))
            actions.append({"add": {**add, "deletionVector": desc}})
        if not actions:
            return snap.version
        return self._commit(actions, operation="DELETE", base=snap)

    def restore(self, version: int) -> int:
        """``RESTORE TABLE ... TO VERSION AS OF version``: commit a new
        version whose live file set equals ``version``'s — METADATA-ONLY
        (re-add old files / remove newer ones in the log; no data file is
        read or rewritten, so restoring a 100 TB table is O(log) driver
        work, exactly Delta's RESTORE). The restore is itself a new
        commit: history stays intact and time-travelable, and restoring
        past a VACUUM fails on read just as in Delta (the old files are
        physically gone). The target's metaData is re-committed when its
        schema, partitioning or configuration differs from the current
        one, as Delta's RESTORE does: a restored table reads, and accepts
        appends, with the schema its restored files were written with."""
        target_snap, current_snap = self.snapshot(as_of=version), self.snapshot()
        target, current = target_snap.live, current_snap.live
        actions = _removes(p for p in current if p not in target)

        def _canon(a: dict) -> dict:
            # drop null-valued keys (a checkpoint round trip materializes
            # "deletionVector": None) so content comparison is stable
            return {k: v for k, v in a.items() if v is not None}

        actions.extend(
            # re-add when the path is new at `version` OR the live add's
            # CONTENT differs — restoring past a DV delete must reinstate
            # the descriptor-free add (path-only comparison would no-op)
            {"add": add}
            for p, add in target.items()
            if p not in current or _canon(current[p]) != _canon(add)
        )

        def _shape(meta: dict | None) -> dict:
            keys = ("schemaString", "partitionColumns", "configuration")
            return {k: (meta or {}).get(k) or None for k in keys}

        if target_snap.metadata is not None and _shape(
            target_snap.metadata
        ) != _shape(current_snap.metadata):
            actions.append({"metaData": target_snap.metadata})
        return self._commit(actions, operation="RESTORE", base=current_snap)

    def clone_to(self, target_path: str, as_of: int | None = None) -> "DeltaLikeTable":
        """SHALLOW CLONE: a new table whose first commit re-ADDs the
        source's live files by ABSOLUTE path (the protocol allows path
        URIs outside the table root) — zero data copied, O(live adds)
        metadata work, which is how a 100 TB dev/test environment forks
        a production table instantly. The clone then evolves
        independently: its own appends/overwrites land in its own root
        and never touch the source's files (copy-on-write isolation);
        VACUUM on the clone only ever deletes files under the clone's
        root."""
        clone = DeltaLikeTable(target_path)
        os.makedirs(target_path, exist_ok=True)
        snap = self.snapshot(as_of)
        actions: list[dict] = []
        for a in snap.adds:
            src = os.path.join(self.path, a["path"])
            add = {**a, "path": os.path.abspath(src)}
            dv = a.get("deletionVector")
            if dv and dv["storageType"] == "p" and not os.path.isabs(
                dv["pathOrInlineDv"]
            ):
                # sidecar DVs live under the SOURCE root — absolutize so
                # the clone resolves them without copying (inline DVs
                # travel in the descriptor itself)
                add["deletionVector"] = {
                    **dv,
                    "pathOrInlineDv": os.path.abspath(
                        os.path.join(self.path, dv["pathOrInlineDv"])
                    ),
                }
            actions.append({"add": add})
        if snap.metadata is not None:
            actions.append({"metaData": snap.metadata})
        clone._commit(actions, operation="CLONE")
        return clone

    # -- maintenance ------------------------------------------------------
    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """OPTIMIZE-style compaction: rewrite the live file set into
        ``target_files`` bin-packed files as a new overwrite commit
        (``dataChange: false`` in spirit — content is unchanged, only
        layout). At 100 TB this is the small-files cure for
        streaming-append tables, run as a maintenance job; old versions
        stay readable until vacuumed."""
        snap = self.snapshot()
        return self._write(
            self._read(spark, snap).coalesce(target_files),
            snap,
            mode="overwrite",
            operation="OPTIMIZE",
        ).version

    def vacuum(
        self, retention_ms: int = 0, now_ms: int | None = None
    ) -> list[int]:
        """``VACUUM ... RETAIN`` — physically delete data files that are
        (a) no longer in the latest version's live set AND (b) were
        removed at least ``retention_ms`` ago (the remove action's
        ``deletionTimestamp``, Delta's retention gate: readers/writers
        started inside the window can still resolve their snapshot).
        ``now_ms`` is injectable for deterministic tests. Returns the
        sorted commit versions whose files were reclaimed; the log keeps
        every commit so version numbering stays stable (older versions
        simply stop being time-travelable, as after a real VACUUM).

        Safety checks, in order: the live set is never touched (even if
        a remove for the same path exists somewhere in history — add
        wins at replay, so membership in the CURRENT live set is the
        guard); files outside the table root (a shallow clone's
        absolute-path adds pointing into the source) are never touched;
        files younger than the retention window are kept. Known hazard
        shared with real Delta: vacuuming a SOURCE table can reclaim
        files a shallow clone of it still references (the source has no
        registry of its clones) — Delta documents the same restriction;
        deep-clone before vacuuming the source if clones must outlive
        it."""
        cutoff = (
            int(time.time() * 1000) if now_ms is None else now_ms
        ) - retention_ms
        active = self.snapshot().adds
        live = {a["path"] for a in active}
        # DV sidecars the CURRENT snapshot still resolves — never touched
        live_dv = {
            a["deletionVector"]["pathOrInlineDv"]
            for a in active
            if (a.get("deletionVector") or {}).get("storageType") == "p"
        }
        added_at: dict[str, int] = {}
        removed_ts: dict[str, int] = {}
        # sidecar → (orphaned-at timestamp, commit version): a sidecar is
        # orphaned when the add that carried it is superseded by an add
        # with a different/no DV (e.g. a later DV delete or a RESTORE
        # re-add) or removed outright — either way it leaks forever
        # without this tracking, since no remove action ever names it.
        pending_dv: dict[str, str] = {}
        dv_orphaned: dict[str, tuple[int, int]] = {}
        for i, fname in enumerate(self._commit_files()):
            fpath = os.path.join(self._log_dir, fname)
            # Per-commit timestamp: commitInfo (first action since r4)
            # overrides below; pre-r4/foreign commits without one fall
            # back to the file's mtime (same rule as commit_timestamp)
            # instead of carrying a stale value across commits — a
            # superseded sidecar must be gated on ITS commit's clock or
            # it can be reclaimed before its retention window elapses.
            commit_ts = int(os.path.getmtime(fpath) * 1000)
            with open(fpath) as f:
                for ln in f:
                    act = json.loads(ln)
                    if "commitInfo" in act:
                        commit_ts = int(
                            act["commitInfo"].get("timestamp") or 0
                        )
                    elif "add" in act:
                        a = act["add"]
                        added_at.setdefault(a["path"], i)
                        dv = a.get("deletionVector") or {}
                        side = (
                            dv.get("pathOrInlineDv")
                            if dv.get("storageType") == "p"
                            else None
                        )
                        old_side = pending_dv.get(a["path"])
                        if old_side and old_side != side:
                            # superseded without a remove (RESTORE path):
                            # gate on the superseding commit's timestamp
                            dv_orphaned[old_side] = (commit_ts, i)
                        if side:
                            pending_dv[a["path"]] = side
                        else:
                            pending_dv.pop(a["path"], None)
                    elif "remove" in act:
                        r = act["remove"]
                        ts = int(r.get("deletionTimestamp") or 0)
                        removed_ts[r["path"]] = ts
                        old_side = pending_dv.pop(r["path"], None)
                        if old_side:
                            dv_orphaned[old_side] = (ts, i)
        reclaimed: set[int] = set()
        root = os.path.abspath(self.path)

        def _under_root(rel: str) -> str | None:
            full = os.path.join(self.path, rel)
            # never delete outside the table root: a shallow clone's
            # absolute-path adds reference the SOURCE table's files
            if not os.path.abspath(full).startswith(root + os.sep):
                return None
            return full

        for path, version in added_at.items():
            full = _under_root(path)
            if full is None or path in live:
                continue
            if removed_ts.get(path, 0) > cutoff:
                continue  # inside the retention window — keep
            if os.path.exists(full):
                os.remove(full)
                reclaimed.add(version)
        for side, (ts, version) in dv_orphaned.items():
            full = _under_root(side)
            if full is None or side in live_dv:
                continue
            if ts > cutoff:
                continue
            if os.path.exists(full):
                os.remove(full)
                reclaimed.add(version)
        return sorted(reclaimed)

    # -- MERGE (upsert) ---------------------------------------------------
    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: str,
        update_cols: list[str] | None = None,
        delete_not_matched_by_source: bool = False,
        evolve_schema: bool = False,
        matched_delete_where: str | None = None,
    ) -> DataFrame:
        """``MERGE INTO target USING source ON target.k = source.k
        WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`` —
        committed as a new overwrite version; returns the merged state.

        Full-outer-join rewrite: matched rows take source values for
        ``update_cols`` (default: all non-key columns), unmatched target
        rows pass through, unmatched source rows are inserts.

        ``delete_not_matched_by_source=True`` adds ``WHEN NOT MATCHED BY
        SOURCE THEN DELETE`` — target rows absent from the source are
        dropped, making one MERGE a complete mirror of the source (the
        full-sync / snapshot-ingestion pattern).

        ``matched_delete_where`` adds ``WHEN MATCHED AND <cond> THEN
        DELETE`` (cond is SQL over the ``t``/``s`` aliases): matched
        rows satisfying it leave the table instead of updating — the
        CDC tombstone pattern (a source row flagged deleted removes its
        target row in the same MERGE).

        ``evolve_schema=True`` adds ``WITH SCHEMA EVOLUTION``: source
        columns the target lacks are appended to the table schema —
        matched and inserted rows take the source value, untouched
        target rows get NULL (Delta's automatic-schema-evolution
        semantics for MERGE); the overwrite commit's metaData action
        carries the widened schemaString."""
        snap = self.snapshot()
        target = self._read(spark, snap)
        cols = target.columns
        evolved = (
            [c for c in source.columns if c not in cols and c != on]
            if evolve_schema
            else []
        )
        update_cols = update_cols or [c for c in cols if c != on]
        s = source.alias("s")
        tgt = target.alias("t")
        joined = tgt.join(s, F.col(f"t.{on}") == F.col(f"s.{on}"), "full_outer")
        # Matched/insert are decided by join-key presence, NOT coalesce on
        # values: WHEN MATCHED THEN UPDATE sets the column to the source
        # value even when that value is NULL, and inserted rows take source
        # values for every column the source carries.
        matched = F.col(f"s.{on}").isNotNull() & F.col(f"t.{on}").isNotNull()
        inserted = F.col(f"t.{on}").isNull()
        if matched_delete_where is not None:
            # WHEN MATCHED AND cond THEN DELETE: drop the joined row
            # entirely — neither the update nor the pass-through branch
            # may see it. A NULL condition is NOT satisfied (Delta
            # clause semantics): coalesce to FALSE so the row falls
            # through to the unconditional UPDATE instead of being
            # silently deleted by ~(matched & NULL) = NULL.
            cond = F.coalesce(F.expr(matched_delete_where), F.lit(False))
            joined = joined.filter(~(matched & cond))

        def _merged_col(c: str):
            s_c = (
                F.col(f"s.{c}")
                if c in source.columns
                else F.lit(None).cast(target.schema[c].dataType)
            )
            t_c = F.col(f"t.{c}")
            upd = s_c if (c in update_cols and c in source.columns) else t_c
            return (
                F.when(matched, upd).when(inserted, s_c).otherwise(t_c).alias(c)
            )

        def _evolved_col(c: str):
            # New column: only rows the source touched carry a value.
            return (
                F.when(matched | inserted, F.col(f"s.{c}"))
                .otherwise(F.lit(None))
                .alias(c)
            )

        out_cols = [_merged_col(c) for c in cols if c != on] + [
            _evolved_col(c) for c in evolved
        ]
        merged = joined.select(
            F.coalesce(F.col(f"s.{on}"), F.col(f"t.{on}")).alias(on),
            *out_cols,
        )
        if delete_not_matched_by_source:
            merged = joined.filter(F.col(f"s.{on}").isNotNull()).select(
                F.col(f"s.{on}").alias(on),
                *out_cols,
            )
        post = self._write(merged, snap, mode="overwrite", operation="MERGE")
        return self._read(spark, post)
