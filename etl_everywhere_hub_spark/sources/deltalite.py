"""Deltalite — a log-structured ACID table format on plain parquet,
dependency-free (VERDICT r10 "What's missing" #4).

The reference persists mutable state as a keyed blob
(/root/reference/task.ts:145,149); streaming/sinks.py already gives
that MERGE/CDC semantics over manifest-swapped parquet snapshots, but
every commit there rewrites the whole snapshot — O(table). This
module implements the missing piece at 100 TB: a TRANSACTION LOG in
the shape of the public Delta Lake protocol (delta-io/delta
PROTOCOL.md; no delta-spark/iceberg jar exists in this container), so
a commit costs O(files it touches), never O(table):

- ``_delta_log/{version:020d}.json`` — newline-delimited JSON actions
  (``metaData`` / ``add`` / ``remove`` / ``txn`` / ``commitInfo``),
  committed with **put-if-absent** (``os.link`` of a fully-written
  temp file → atomic on POSIX/HDFS; on S3 the documented swap point
  is a conditional PUT or a commit service, exactly as Delta-on-S3
  uses DynamoDB).
- **Snapshot = log replay**, never a directory listing: readers
  reconstruct the live file set (adds minus removes) from the log, so
  a table with millions of data files costs a few log files to plan —
  the listing-free property that makes object-store tables usable at
  100 TB.
- **Checkpoints** every N commits (``{v:020d}.checkpoint.parquet`` +
  ``_last_checkpoint``) bound replay to the tail.
- **Per-file column stats** (min/max/nullCount, harvested from the
  parquet footers at write time) stored on each ``add`` → reads with
  conjunctive predicates prune files driver-side BEFORE any data I/O
  (zone-map pruning at the table-format layer; the in-file twin is
  q274's row-group audit).
- **Optimistic concurrency**: a lost commit race re-reads the tail;
  blind appends rebase and retry automatically, read-modify-write
  ops (overwrite/merge/delete) raise ``ConcurrentModification`` for
  the caller to re-run — the same conflict matrix as Delta's
  ``WriteSerializable``.
- **MERGE** prunes the base side to key-range-overlapping files and
  rewrites ONLY those — O(touched + source), the lakehouse MERGE
  bound — carrying every untouched file forward by reference.
  **DELETE** gets the same bound when the caller passes structured
  ``filters`` triples; with only a SQL predicate string it is an
  honest full rewrite (we don't parse SQL into prune triples).
- **Time travel**: any retained version replays exactly.
- **Streaming exactly-once**: ``txn`` actions (appId, version) make
  foreachBatch appends idempotent under micro-batch replay.

Determinism rules (oracle contract): commit timestamps and
``modificationTime`` are the VERSION NUMBER, not wall time, so log
bytes and history() output are run-stable; data-file names carry a
per-writer token so losers of a commit race never collide, and no
query result depends on a name.

Scale posture: all control-plane work (log replay, stats pruning,
conflict checks) is driver-side over O(live files) small dicts —
thousands of entries per 100 TB table thanks to checkpointing; all
data-plane work is ordinary Spark parquet jobs. Nothing here ever
collects table rows to the driver.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid

from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LOG_DIR = "_delta_log"
LAST_CKPT = "_last_checkpoint"


class ConcurrentModification(Exception):
    """A read-modify-write commit lost its optimistic race to a
    conflicting concurrent commit; re-run the operation on the new
    snapshot (blind appends never raise this — they rebase)."""


@dataclass
class Snapshot:
    version: int
    metadata: dict
    files: dict  # relative path -> add action dict
    txns: dict  # appId -> highest committed txn version
    n_log_actions: int = 0
    protocol: dict | None = None

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list:
        return list(self.metadata.get("partitionColumns", []))


@dataclass
class ScanAudit:
    """Driver-side record of the last pruned read — the measurable
    file-skipping contract (q348 asserts scanned < total)."""

    files_total: int = 0
    files_scanned: int = 0
    pruned_by_partition: int = 0
    pruned_by_stats: int = 0


# Delta-shaped protocol gate: a reader must refuse logs demanding a
# capability level it does not implement (delta PROTOCOL.md "Reader
# Requirements"); replaying anyway risks silently-wrong snapshots.
_READER_VERSION = 1
_WRITER_VERSION = 2


def _fmt_version(v: int) -> str:
    return f"{v:020d}"


def _atomic_put_if_absent(content: str, dest: str) -> bool:
    """Write ``content`` fully to a temp file, then hard-link it to
    ``dest``. The link either materializes the complete file or fails
    because ``dest`` exists — the put-if-absent primitive the commit
    protocol needs (POSIX rename-style atomicity; S3 swap point
    documented in the module docstring)."""
    d = os.path.dirname(dest)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmp_commit_")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(content)
        try:
            os.link(tmp, dest)
            return True
        except FileExistsError:
            return False
    finally:
        os.unlink(tmp)


def _harvest_stats(local_path: str, stat_cols: list) -> dict:
    """Min/max/nullCount per column from the parquet footer — no data
    pages are read. Values are serialized to JSON-safe forms whose
    ordering matches the engine's (ISO strings for date/timestamp:
    lexicographic == chronological)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(local_path).metadata
    num_records = md.num_rows
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    for col in stat_cols:
        if col not in idx:
            continue
        lo = hi = None
        nn = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            nn += st.null_count if st.null_count is not None else 0
            rmin, rmax = _json_safe(st.min), _json_safe(st.max)
            lo = rmin if lo is None or rmin < lo else lo
            hi = rmax if hi is None or rmax > hi else hi
        if ok and lo is not None:
            mins[col] = lo
            maxs[col] = hi
            nulls[col] = nn
    return {
        "numRecords": num_records,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


def _json_safe(v):
    import datetime

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def zorder_key(df: DataFrame, cols: list, bits: int = 8) -> Column:
    """Morton (Z-order) key Column for ``cols`` over ``df``'s data.

    Per column: 255 quantile cut points via ``approxQuantile`` (a
    BOUNDED driver collect — ≤255 doubles per column, the same ≤256
    stats budget operators/similarity.py holds itself to), then the
    row's bucket id (0..255) is computed JVM-side as a fold over the
    literal cut-point array (``F.aggregate`` — no UDF, no join).
    Quantile buckets, not equal-width: skewed columns still spread
    across all 2^bits buckets, which is what keeps per-file min/max
    tight under skew. Bucket bits interleave column-major (column k
    owns bit positions i*ncols+k), the classic Morton layout: a box
    predicate on ANY subset of the z columns maps to contiguous-ish
    z runs, so range-partitioning + sorting on this key tightens
    every column's per-file stats at once.

    Nulls bucket to 0 (approxQuantile ignores them; the fold's
    ``when`` treats a null comparison as not-greater), i.e. they
    cluster low instead of poisoning file ranges.

    Scale shape: one pass for the quantiles (Greenwald-Khanna
    sketch, executor-side merge), one map-side expression for the
    key — no shuffle beyond the rewrite's own repartitionByRange."""
    if not cols:
        raise ValueError("zorder_key: need at least one column")
    if bits < 1 or bits > 16:
        raise ValueError("zorder_key: bits out of 1..16")
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    quantiles = df.approxQuantile([str(c) for c in cols], probs, 0.001)
    z = F.lit(0).cast("long")
    ncols = len(cols)
    for k, (c, cuts) in enumerate(zip(cols, quantiles)):
        if not cuts:
            raise ValueError(
                f"zorder_key: column {c} has no numeric quantiles "
                "(empty input or non-numeric column)"
            )
        # dedupe preserves order; fold counts cut points <= value
        uniq = sorted(set(cuts))
        v = F.col(str(c)).cast("double")
        bucket = F.aggregate(
            F.array(*[F.lit(float(b)) for b in uniq]),
            F.lit(0),
            lambda acc, b: acc + F.when(v >= b, 1).otherwise(0),
        ).cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                    i * ncols + k,
                )
            )
    return z


class DeltaliteTable:
    """Handle on a deltalite table rooted at ``path``.

    The handle is cheap — all state lives in the log; every operation
    loads the snapshot it needs.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_interval: int = 10,
        max_commit_retries: int = 20,
    ):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.log_path = os.path.join(self.path, LOG_DIR)
        self.checkpoint_interval = checkpoint_interval
        self.max_commit_retries = max_commit_retries
        self.last_scan = ScanAudit()

    # ----------------------------------------------------------- log

    def _list_versions(self) -> list:
        if not os.path.isdir(self.log_path):
            return []
        out = []
        for name in os.listdir(self.log_path):
            if name.endswith(".json") and name[:20].isdigit():
                out.append(int(name[:20]))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self._list_versions()
        if not vs:
            raise FileNotFoundError(f"not a deltalite table: {self.path}")
        return vs[-1]

    def exists(self) -> bool:
        return bool(self._list_versions())

    def _read_commit(self, version: int) -> list:
        p = os.path.join(self.log_path, _fmt_version(version) + ".json")
        with open(p) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def _last_checkpoint_version(self, at_or_below: int) -> int | None:
        p = os.path.join(self.log_path, LAST_CKPT)
        cand = None
        if os.path.exists(p):
            with open(p) as fh:
                v = json.load(fh).get("version")
            if v is not None and v <= at_or_below:
                cand = v
        if cand is None:
            # fallback scan (a checkpoint may predate a stale pointer)
            for name in os.listdir(self.log_path) if os.path.isdir(self.log_path) else []:
                if name.endswith(".checkpoint.parquet") and name[:20].isdigit():
                    v = int(name[:20])
                    if v <= at_or_below and (cand is None or v > cand):
                        cand = v
        return cand

    def _read_checkpoint(self, version: int) -> list:
        import pyarrow.parquet as pq

        p = os.path.join(self.log_path, _fmt_version(version) + ".checkpoint.parquet")
        tbl = pq.read_table(p)
        return [json.loads(s) for s in tbl.column("action_json").to_pylist()]

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay checkpoint + log tail into the live-file state.
        O(actions since last checkpoint) driver work, zero data I/O."""
        latest = self.latest_version()
        target = latest if version is None else version
        if target > latest or target < 0:
            raise ValueError(f"version {target} out of range 0..{latest}")
        vh = self._vacuum_horizon()
        if target < vh:
            raise ValueError(
                f"version {target} predates the vacuum horizon {vh}: its "
                "data files have been physically deleted"
            )
        snap = Snapshot(version=target, metadata={}, files={}, txns={})
        start = 0
        ckpt = self._last_checkpoint_version(target)
        actions: list = []
        if ckpt is not None:
            actions.extend(self._read_checkpoint(ckpt))
            start = ckpt + 1
        for v in range(start, target + 1):
            try:
                actions.extend(self._read_commit(v))
            except FileNotFoundError:
                # vacuumed-away tail below the checkpoint horizon
                raise ValueError(
                    f"version {v} has been vacuumed; earliest replayable "
                    f"state is the checkpoint at {ckpt}"
                ) from None
        for a in actions:
            if "protocol" in a:
                mrv = a["protocol"].get("minReaderVersion", 1)
                if mrv > _READER_VERSION:
                    raise ValueError(
                        f"table requires reader version {mrv}; this "
                        f"implementation supports {_READER_VERSION} — "
                        "refusing to replay a log it cannot honor"
                    )
                snap.protocol = a["protocol"]
            elif "metaData" in a:
                snap.metadata = a["metaData"]
            elif "add" in a:
                snap.files[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                snap.files.pop(a["remove"]["path"], None)
            elif "txn" in a:
                t = a["txn"]
                prev = snap.txns.get(t["appId"], -1)
                snap.txns[t["appId"]] = max(prev, t["version"])
        snap.n_log_actions = len(actions)
        return snap

    def history(self) -> list:
        """commitInfo per version, newest first (Delta's
        ``DESCRIBE HISTORY``)."""
        out = []
        for v in reversed(self._list_versions()):
            for a in self._read_commit(v):
                if "commitInfo" in a:
                    out.append({"version": v, **a["commitInfo"]})
        return out

    def last_txn_version(self, app_id: str) -> int | None:
        v = self.snapshot().txns.get(app_id)
        return v

    # -------------------------------------------------------- commit

    def _try_commit(self, version: int, actions: list) -> bool:
        os.makedirs(self.log_path, exist_ok=True)
        content = "".join(json.dumps(a, sort_keys=True) + "\n" for a in actions)
        dest = os.path.join(self.log_path, _fmt_version(version) + ".json")
        ok = _atomic_put_if_absent(content, dest)
        if ok and version > 0 and version % self.checkpoint_interval == 0:
            self._write_checkpoint(version)
        return ok

    def _write_checkpoint(self, version: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot(version)
        actions = []
        if snap.protocol is not None:
            actions.append({"protocol": snap.protocol})
        actions.append({"metaData": snap.metadata})
        actions += [{"add": a} for a in snap.files.values()]
        actions += [
            {"txn": {"appId": k, "version": v}} for k, v in sorted(snap.txns.items())
        ]
        tbl = pa.table(
            {"action_json": [json.dumps(a, sort_keys=True) for a in actions]}
        )
        dest = os.path.join(
            self.log_path, _fmt_version(version) + ".checkpoint.parquet"
        )
        tmp = dest + f".tmp-{uuid.uuid4().hex[:8]}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, dest)
        with open(os.path.join(self.log_path, LAST_CKPT + ".tmp"), "w") as fh:
            json.dump({"version": version, "size": len(actions)}, fh)
        os.replace(
            os.path.join(self.log_path, LAST_CKPT + ".tmp"),
            os.path.join(self.log_path, LAST_CKPT),
        )

    def _commit_blind_append(self, actions: list, op_info: dict) -> int:
        """Appends conflict with nothing — rebase onto whatever
        version wins and retry (Delta's append path)."""
        vs = self._list_versions()
        version = (vs[-1] + 1) if vs else 0
        for _ in range(self.max_commit_retries):
            info = {
                "commitInfo": {
                    **op_info,
                    "timestamp": version,
                    "readVersion": version - 1,
                }
            }
            if self._try_commit(version, [info] + actions):
                return version
            version += 1
        raise ConcurrentModification(
            f"append lost {self.max_commit_retries} straight races"
        )

    def _commit_rmw(self, read_version: int, actions: list, op_info: dict) -> int:
        """Read-modify-write commit: succeeds only if no DATA commit
        landed after ``read_version`` (metadata-only/txn commits are
        compatible with a rewrite — they touch no files)."""
        version = read_version + 1
        for _ in range(self.max_commit_retries):
            info = {
                "commitInfo": {
                    **op_info,
                    "timestamp": version,
                    "readVersion": read_version,
                }
            }
            if self._try_commit(version, [info] + actions):
                return version
            for a in self._read_commit(version):
                if "add" in a or "remove" in a:
                    raise ConcurrentModification(
                        f"concurrent data commit at version {version}"
                    )
            version += 1
        raise ConcurrentModification("rmw commit exhausted retries")

    # --------------------------------------------------------- write

    def _stat_cols(self, df: DataFrame, partition_by: list) -> list:
        keep = ("int", "bigint", "smallint", "tinyint", "double", "float",
                "string", "date", "decimal", "timestamp")
        return [
            name
            for name, dt in df.dtypes
            if name not in partition_by and dt.startswith(keep)
        ]

    def _write_files(
        self, df: DataFrame, partition_by: list, version_hint: int
    ) -> list:
        """Write ``df`` as parquet into the table directory and return
        the ``add`` actions. Files are staged under a unique token dir
        then renamed into hive layout, so a concurrent writer can
        never observe half a file or collide on a name."""
        token = uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, "_staging", token)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        stat_cols = self._stat_cols(df, partition_by)
        adds = []
        i = 0
        for root, _dirs, names in sorted(os.walk(staging)):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(root, name)
                rel_dir = os.path.relpath(root, staging)
                part_vals = {}
                if rel_dir != ".":
                    for seg in rel_dir.split(os.sep):
                        k, _, v = seg.partition("=")
                        part_vals[k] = (
                            None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                        )
                fname = f"part-{version_hint:05d}-{i:04d}-{token}.parquet"
                rel = os.path.join(rel_dir, fname) if rel_dir != "." else fname
                dest = os.path.join(self.path, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                stats = _harvest_stats(src, stat_cols)
                os.replace(src, dest)
                adds.append(
                    {
                        "path": rel.replace(os.sep, "/"),
                        "partitionValues": part_vals,
                        "size": os.path.getsize(dest),
                        "modificationTime": version_hint,
                        "dataChange": True,
                        "stats": json.dumps(stats, sort_keys=True),
                    }
                )
                i += 1
        shutil.rmtree(os.path.join(self.path, "_staging", token), ignore_errors=True)
        return adds

    def _metadata_action(self, df: DataFrame, partition_by: list) -> dict:
        return {
            "metaData": {
                "id": "deltalite",
                "format": {"provider": "parquet"},
                "schemaString": df.schema.json(),
                "partitionColumns": list(partition_by),
            }
        }

    def create(self, df: DataFrame, partition_by: list | None = None) -> int:
        partition_by = partition_by or []
        if self.exists():
            raise FileExistsError(f"table already exists: {self.path}")
        os.makedirs(self.path, exist_ok=True)
        adds = self._write_files(df, partition_by, 0)
        actions = [
            {"commitInfo": {"operation": "CREATE", "operationParameters": {},
                            "timestamp": 0, "readVersion": -1}},
            {"protocol": {"minReaderVersion": _READER_VERSION,
                          "minWriterVersion": _WRITER_VERSION}},
            self._metadata_action(df, partition_by),
        ] + [{"add": a} for a in adds]
        # CREATE claims version 0 exactly once — a lost race means a
        # concurrent create won and rebasing would silently merge two
        # tables, so fail loudly instead.
        if not self._try_commit(0, actions):
            raise FileExistsError(f"concurrent create at {self.path}")
        return 0

    def append(
        self, df: DataFrame, txn: tuple | None = None
    ) -> int:
        """Blind append: new files only, auto-rebasing on conflicts.
        ``txn=(app_id, version)`` makes the commit idempotent for
        streaming replay (caller checks ``last_txn_version`` first)."""
        snap = self.snapshot()
        expected = [f.name for f in snap.schema.fields]
        got = list(df.columns)
        if sorted(got) != sorted(expected):
            raise ValueError(
                f"append schema mismatch: table has {expected}, got {got}"
            )
        df = df.select(*expected)
        adds = self._write_files(df, snap.partition_columns, snap.version + 1)
        actions = [{"add": a} for a in adds]
        if txn is not None:
            actions.append({"txn": {"appId": txn[0], "version": txn[1]}})
        return self._commit_blind_append(
            actions, {"operation": "APPEND", "operationParameters": {}}
        )

    def overwrite(self, df: DataFrame, partition_by: list | None = None) -> int:
        """Replace table contents (and optionally repartition /
        reschema): removes every live file, adds the new set — an
        O(new data) commit, old files stay for time travel until
        vacuumed."""
        snap = self.snapshot()
        partition_by = (
            snap.partition_columns if partition_by is None else partition_by
        )
        adds = self._write_files(df, partition_by, snap.version + 1)
        actions = [self._metadata_action(df, partition_by)]
        actions += [
            {"remove": {"path": p, "deletionTimestamp": snap.version + 1,
                        "dataChange": True}}
            for p in sorted(snap.files)
        ]
        actions += [{"add": a} for a in adds]
        return self._commit_rmw(
            snap.version, actions, {"operation": "OVERWRITE",
                                    "operationParameters": {}}
        )

    # ---------------------------------------------------------- read

    def _prune(
        self, snap: Snapshot, filters: list | None
    ) -> list:
        """Driver-side file skipping over the log's metadata: exact
        partition-value pruning, then min/max stats pruning. Filters
        are conjunctive ``(col, op, value)`` triples with op in
        = < <= > >= in. Conservative: a file is kept unless a filter
        PROVES it empty."""
        audit = ScanAudit(files_total=len(snap.files))
        keep = []
        part_cols = set(snap.partition_columns)
        for rel in sorted(snap.files):
            add = snap.files[rel]
            drop = None
            for col, op, val in filters or []:
                if col in part_cols:
                    pv = add.get("partitionValues", {}).get(col)
                    if pv is None:
                        continue
                    if not _value_passes(pv, op, val):
                        drop = "partition"
                        break
                else:
                    st = json.loads(add.get("stats") or "{}")
                    lo = st.get("minValues", {}).get(col)
                    hi = st.get("maxValues", {}).get(col)
                    if lo is None or hi is None:
                        continue
                    if not _range_passes(lo, hi, op, val):
                        drop = "stats"
                        break
            if drop is None:
                keep.append(rel)
            elif drop == "partition":
                audit.pruned_by_partition += 1
            else:
                audit.pruned_by_stats += 1
        audit.files_scanned = len(keep)
        self.last_scan = audit
        return keep

    def read(
        self,
        version: int | None = None,
        filters: list | None = None,
    ) -> DataFrame:
        """Snapshot read from the EXPLICIT log-derived file list (no
        directory listing), with driver-side file skipping. The
        filters are a pruning hint only — the returned DataFrame is
        the full (pruned-file) scan; callers still apply their
        predicate, so pruning can only skip provably-empty files,
        never change results."""
        snap = self.snapshot(version)
        rels = self._prune(snap, filters)
        schema = snap.schema
        if not rels:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, r) for r in rels]
        reader = self.spark.read.option("basePath", self.path)
        # EXPLICIT schema from the log metadata: pins column order and
        # partition-column types, and — after add_columns evolution —
        # makes old-generation files null-fill the new columns per
        # row (name-based parquet resolution), instead of inheriting
        # whichever file Spark would have sampled for inference.
        df = reader.schema(schema).parquet(*paths)
        return df.select(*[F.col(f.name) for f in schema.fields])

    # --------------------------------------------------------- merge

    def merge(
        self,
        source: DataFrame,
        keys: list,
        op_col: str | None = None,
        delete_op: str = "D",
    ) -> int:
        """Keyed MERGE (upsert + delete) with touched-file pruning.

        Matched rows are replaced by the source row (or dropped when
        ``op_col == delete_op``); unmatched source rows are inserted
        (deletes of absent keys are no-ops). Only files whose key
        min/max range overlaps the source's key range are rewritten;
        every other live file is carried forward by reference — the
        O(touched + source) lakehouse MERGE bound. Raises
        ``ConcurrentModification`` if a data commit lands between the
        snapshot read and the commit."""
        snap = self.snapshot()
        part_cols = snap.partition_columns
        data_cols = [f.name for f in snap.schema.fields]
        src_cols = [c for c in source.columns if c != op_col]
        if sorted(src_cols) != sorted(data_cols):
            raise ValueError(
                f"merge source schema mismatch: table has {data_cols}, "
                f"source has {src_cols}"
            )
        # key-range bounds of the source: one tiny agg, O(1) rows
        bounds = source.agg(
            *[F.min(k).alias(f"lo_{k}") for k in keys],
            *[F.max(k).alias(f"hi_{k}") for k in keys],
        ).collect()[0]
        if all(bounds[f"lo_{k}"] is None for k in keys):
            # empty (or all-null-key) source: nothing matches, nothing
            # inserts — the merge is a no-op, commit nothing
            return snap.version
        touched, carried = [], []
        for rel in sorted(snap.files):
            st = json.loads(snap.files[rel].get("stats") or "{}")
            overlap = True
            for k in keys:
                lo, hi = st.get("minValues", {}).get(k), st.get(
                    "maxValues", {}
                ).get(k)
                slo, shi = bounds[f"lo_{k}"], bounds[f"hi_{k}"]
                if lo is None or hi is None or slo is None:
                    continue
                slo, shi = _json_safe(slo), _json_safe(shi)
                if hi < slo or lo > shi:
                    overlap = False
                    break
            (touched if overlap else carried).append(rel)
        if touched:
            base = self.spark.read.option("basePath", self.path).schema(
                snap.schema
            ).parquet(*[os.path.join(self.path, r) for r in touched])
            base = base.select(*[F.col(f.name) for f in snap.schema.fields])
        else:
            base = self.spark.createDataFrame([], snap.schema)
        src = source
        if op_col is None:
            op_col = "__op"
            src = src.withColumn(op_col, F.lit("U"))
        b = base.select(
            *[F.col(c).alias(f"__b_{c}") for c in data_cols]
        )
        s = src.select(
            *[F.col(c).alias(f"__s_{c}") for c in data_cols],
            F.col(op_col).alias("__s_op"),
        )
        cond = [F.col(f"__b_{k}").eqNullSafe(F.col(f"__s_{k}")) for k in keys]
        j = b.join(s, cond, "full_outer")
        merged = j.filter(
            # delete drops matched rows; unmatched deletes are no-ops
            F.col("__s_op").isNull() | (F.col("__s_op") != delete_op)
        ).select(
            *[
                F.when(F.col("__s_op").isNotNull(), F.col(f"__s_{c}"))
                .otherwise(F.col(f"__b_{c}"))
                .alias(c)
                for c in data_cols
            ]
        )
        adds = self._write_files(merged, part_cols, snap.version + 1)
        actions = [
            {"remove": {"path": p, "deletionTimestamp": snap.version + 1,
                        "dataChange": True}}
            for p in touched
        ] + [{"add": a} for a in adds]
        v = self._commit_rmw(
            snap.version,
            actions,
            {
                "operation": "MERGE",
                "operationParameters": {
                    "keys": keys,
                    "touchedFiles": len(touched),
                    "carriedFiles": len(carried),
                },
            },
        )
        return v

    def delete(self, predicate: str, filters: list | None = None) -> int:
        """Delete rows matching a SQL ``predicate``. When ``filters``
        (the same conjunctive ``(col, op, value)`` triples ``read``
        takes; they must be implied by the predicate) are given, the
        log's partition values + min/max stats prune to the files
        that MAY contain matches — only those are rewritten, the
        rest carry forward by reference, so the commit costs
        O(files touched). Without ``filters`` every live file is
        rewritten (a full-table rewrite): stats pruning needs
        structured triples, and this module deliberately does not
        parse SQL strings into them."""
        snap = self.snapshot()
        live = sorted(snap.files)
        if not live:
            return snap.version
        if filters:
            live = self._prune(snap, filters)
            if not live:
                return snap.version  # stats prove nothing matches
        paths = [os.path.join(self.path, r) for r in live]
        df = self.spark.read.option("basePath", self.path).schema(
            snap.schema
        ).parquet(*paths)
        df = df.select(*[F.col(f.name) for f in snap.schema.fields])
        kept = df.filter(f"NOT ({predicate})")
        adds = self._write_files(kept, snap.partition_columns, snap.version + 1)
        actions = [
            {"remove": {"path": p, "deletionTimestamp": snap.version + 1,
                        "dataChange": True}}
            for p in live
        ] + [{"add": a} for a in adds]
        return self._commit_rmw(
            snap.version,
            actions,
            {"operation": "DELETE", "operationParameters": {"predicate": predicate}},
        )

    def add_columns(self, new_fields: list) -> int:
        """Schema evolution: append NULLABLE columns to the table
        schema (the metadata-only evolution Delta permits without a
        rewrite). Old-generation files null-fill the new columns on
        read (see ``read``'s explicit-schema scan); no data file is
        touched — the commit is one ``metaData`` action.

        ``new_fields``: (name, DataType) tuples or StructFields.
        Columns are forced nullable — an old file HAS no value for
        them, so a non-null contract would be a lie."""
        from pyspark.sql.types import StructField

        snap = self.snapshot()
        schema = snap.schema
        names = {f.name for f in schema.fields}
        added = []
        for f in new_fields:
            if isinstance(f, tuple):
                f = StructField(f[0], f[1], True)
            if f.name in names:
                # covers partition columns too: they are always
                # existing columns
                raise ValueError(f"column {f.name!r} already exists")
            schema = schema.add(f.name, f.dataType, True)
            names.add(f.name)
            added.append(f.name)
        md = dict(snap.metadata)
        md["schemaString"] = schema.json()
        return self._commit_rmw(
            snap.version,
            [{"metaData": md}],
            {"operation": "ADD COLUMNS",
             "operationParameters": {"columns": added}},
        )

    # ------------------------------------------------- optimize / cdf

    def optimize(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster_by: list | None = None,
        min_files: int = 2,
        zorder_by: list | None = None,
    ) -> int:
        """Small-file compaction — the operational necessity of any
        log-structured table at 100 TB (streaming appends produce
        thousands of KB-sized files; scan cost is per-file).

        Bin-packs every live file smaller than ``target_file_bytes``
        into ``ceil(total/target)`` rewritten files; with
        ``cluster_by`` the rewrite is ``repartitionByRange`` +
        ``sortWithinPartitions`` so the output files carry DISJOINT
        min/max ranges on those columns — compaction doubles as a
        clustering pass that makes stats file-skipping surgical
        (q350 pins this: a narrow key predicate scans exactly one
        file afterwards).

        ``zorder_by`` (mutually exclusive with ``cluster_by``) is the
        MULTI-dimensional variant: linear clustering makes only its
        FIRST column's ranges disjoint, so a predicate on the second
        column still scans everything. The rewrite instead sorts on a
        Morton (Z-order) key — per-column quantile bucket ids
        (bounded 255-cut approxQuantile collect, the house ≤256-row
        stats budget) with their bits interleaved by a pure-Column
        expression — so EVERY z column's min/max tightens per file
        and a k-dimensional box predicate prunes on all k columns at
        once (q364 pins the scan counts; tests pin z-vs-linear on the
        2-D box workload).

        The commit marks every add/remove ``dataChange: false``:
        readers see identical rows, CDF consumers (``table_changes``)
        skip the commit entirely, and the OCC rule is relaxed —
        concurrent APPENDS are compatible (their files aren't
        touched) and only a concurrent remove of a file being
        rewritten raises ``ConcurrentModification``."""
        if cluster_by and zorder_by:
            raise ValueError(
                "optimize: cluster_by and zorder_by are mutually exclusive"
            )
        snap = self.snapshot()
        small = [
            rel
            for rel in sorted(snap.files)
            if snap.files[rel]["size"] < target_file_bytes
        ]
        if len(small) < min_files:
            return snap.version
        total = sum(snap.files[r]["size"] for r in small)
        n_out = max(1, -(-total // target_file_bytes))
        df = self.spark.read.option("basePath", self.path).schema(
            snap.schema
        ).parquet(*[os.path.join(self.path, r) for r in small])
        df = df.select(*[F.col(f.name) for f in snap.schema.fields])
        if zorder_by:
            z = zorder_key(df, zorder_by)
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(n_out, "__z")
                .sortWithinPartitions("__z")
                .select(*[F.col(f.name) for f in snap.schema.fields])
            )
        elif cluster_by:
            df = df.repartitionByRange(n_out, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        else:
            df = df.coalesce(max(1, n_out))
        adds = self._write_files(df, snap.partition_columns, snap.version + 1)
        actions = [
            {"remove": {"path": p, "deletionTimestamp": snap.version + 1,
                        "dataChange": False}}
            for p in small
        ] + [{"add": {**a, "dataChange": False}} for a in adds]
        version = snap.version + 1
        rewritten = set(small)
        for _ in range(self.max_commit_retries):
            info = {
                "commitInfo": {
                    "operation": "OPTIMIZE",
                    "operationParameters": {
                        "filesIn": len(small),
                        "filesOut": len(adds),
                        "clusterBy": list(cluster_by or []),
                        "zorderBy": list(zorder_by or []),
                    },
                    "timestamp": version,
                    "readVersion": snap.version,
                }
            }
            if self._try_commit(version, [info] + actions):
                return version
            for a in self._read_commit(version):
                if "remove" in a and a["remove"]["path"] in rewritten:
                    raise ConcurrentModification(
                        f"file {a['remove']['path']} removed under compaction"
                    )
            version += 1
        raise ConcurrentModification("optimize exhausted retries")

    def table_changes(self, from_version: int, to_version: int | None = None):
        """Row-level change feed over [from_version, to_version]: the
        table's columns plus ``_change_type`` ('insert' | 'delete')
        and ``_commit_version``.

        Per data-changing commit, the minimal row delta is recovered
        from the file-level log diff: rows of added files EXCEPT ALL
        rows of removed files are the inserts, the reverse are the
        deletes — unchanged rows carried through a MERGE rewrite
        cancel exactly (multiset semantics), so a rewrite of a
        100-row file that updated 2 rows feeds 2 inserts + 2 deletes
        downstream, not 200. OPTIMIZE commits (``dataChange: false``)
        contribute nothing by construction.

        Cost is O(rows in files touched by each commit), never
        O(table) — the property that makes incremental downstream
        consumption (the reference's polling consumers,
        task.ts:103-115) viable at 100 TB. Valid within the vacuum
        retention horizon (removed files must still exist)."""
        from functools import reduce

        latest = self.latest_version()
        to_version = latest if to_version is None else to_version
        parts = []
        for v in range(max(0, from_version), to_version + 1):
            acts = self._read_commit(v)
            added = [
                a["add"]["path"]
                for a in acts
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removed = [
                a["remove"]["path"]
                for a in acts
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if not added and not removed:
                continue
            schema = self.snapshot(v).schema
            cols = [f.name for f in schema.fields]

            def _read(rels, schema=schema, cols=cols):
                if not rels:
                    return self.spark.createDataFrame([], schema).select(*cols)
                d = self.spark.read.option("basePath", self.path).schema(
                    schema
                ).parquet(*[os.path.join(self.path, r) for r in rels])
                return d.select(
                    *[F.col(f.name)
                      for f in schema.fields]
                )

            a_df, r_df = _read(added), _read(removed)
            ins = a_df.exceptAll(r_df).withColumn("_change_type", F.lit("insert"))
            dels = r_df.exceptAll(a_df).withColumn("_change_type", F.lit("delete"))
            parts.append(
                ins.unionByName(dels).withColumn(
                    "_commit_version", F.lit(v).cast("long")
                )
            )
        if not parts:
            schema = self.snapshot(to_version).schema
            return (
                self.spark.createDataFrame([], schema)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(0).cast("long"))
                .limit(0)
            )
        return reduce(lambda a, b: a.unionByName(b), parts)

    # -------------------------------------------------------- vacuum

    def _vacuum_horizon(self) -> int:
        """Lowest version whose data files are all guaranteed present
        (-inf as -1 when no vacuum ever deleted anything)."""
        marker = os.path.join(self.log_path, "_last_vacuum")
        try:
            with open(marker) as fh:
                return int(json.load(fh)["horizon"])
        except FileNotFoundError:
            return -1

    def vacuum(
        self,
        retain_versions: int = 7,
        staging_ttl_seconds: float = 3600.0,
    ) -> list:
        """Physically delete data files tombstoned at or below
        ``latest - retain_versions`` (time travel below that horizon
        becomes invalid, exactly Delta's retention contract). Returns
        the deleted relative paths. Also sweeps abandoned staging
        token dirs from crashed writers — but ONLY those whose mtime
        is older than ``staging_ttl_seconds``, so a vacuum running
        concurrently with a live writer (which stages parquet under
        ``_staging/<token>`` before renaming into the table) can
        never delete an in-flight write."""
        latest = self.latest_version()
        horizon = latest - retain_versions
        removed_at: dict = {}
        re_added: set = set()
        for v in self._list_versions():
            for a in self._read_commit(v):
                if "remove" in a:
                    removed_at[a["remove"]["path"]] = v
                elif "add" in a and a["add"]["path"] in removed_at:
                    removed_at.pop(a["add"]["path"])
                    re_added.add(a["add"]["path"])
        deleted = []
        for rel, v in sorted(removed_at.items()):
            if v <= horizon:
                p = os.path.join(self.path, rel)
                if os.path.exists(p):
                    os.unlink(p)
                deleted.append(rel)
        if deleted:
            # record the horizon so time travel BELOW it fails with a
            # clear replay-time error instead of a mid-action Spark
            # missing-file error. Versions >= horizon only reference
            # files tombstoned AFTER it, all retained.
            marker = os.path.join(self.log_path, "_last_vacuum")
            prev = self._vacuum_horizon()
            with open(marker + ".tmp", "w") as fh:
                json.dump({"horizon": max(horizon, prev)}, fh)
            os.replace(marker + ".tmp", marker)
        staging_root = os.path.join(self.path, "_staging")
        if os.path.isdir(staging_root):
            now = time.time()
            for tok in os.listdir(staging_root):
                d = os.path.join(staging_root, tok)
                try:
                    if now - os.path.getmtime(d) < staging_ttl_seconds:
                        continue  # possibly a live writer — leave it
                except OSError:
                    continue  # raced with its own writer's rename
                shutil.rmtree(d, ignore_errors=True)
        return deleted


def _value_passes(pv: str, op: str, val) -> bool:
    """Partition-value predicate (string-typed hive values; the caller
    compares in the value's natural domain by passing val as str for
    string partitions — numeric partition columns compare as
    numbers when both sides parse)."""
    if op == "in":
        # Coerce pv per ELEMENT type — `type(val)(pv)` on the
        # list/tuple itself would explode pv into characters and
        # wrongly prune every file.
        for item in val:
            if isinstance(item, str):
                if pv == item:
                    return True
                continue
            try:
                if type(item)(pv) == item:
                    return True
            except (TypeError, ValueError):
                return True  # un-comparable element → conservative keep
        return False
    v: object = pv
    if not isinstance(val, str):
        try:
            v = type(val)(pv)
        except (TypeError, ValueError):
            return True  # un-comparable → conservative keep
    if op == "=":
        return v == val
    if op == "<":
        return v < val
    if op == "<=":
        return v <= val
    if op == ">":
        return v > val
    if op == ">=":
        return v >= val
    raise ValueError(f"unsupported filter op: {op}")


def _range_passes(lo, hi, op: str, val) -> bool:
    """Can ANY value in [lo, hi] satisfy ``x op val``? (False proves
    the file empty for this conjunct.)"""
    try:
        if op == "=":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "in":
            return any(lo <= v <= hi for v in val)
    except TypeError:
        return True  # mixed-type comparison → conservative keep
    raise ValueError(f"unsupported filter op: {op}")


def deltalite_append_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    app_id: str,
):
    """Exactly-once streaming append into a deltalite table: each
    micro-batch commits its rows WITH a ``txn`` action carrying
    (app_id, batch_id); on checkpoint replay the already-committed
    batch id short-circuits, so a crash between sink-commit and
    checkpoint-advance cannot double-append (the same idempotence
    contract as Delta's streaming sink; crash matrix in
    tests/test_deltalite.py)."""

    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        t = DeltaliteTable(batch_df.sparkSession, table_path)
        last = t.last_txn_version(app_id)
        if last is not None and last >= batch_id:
            return
        t.append(batch_df, txn=(app_id, batch_id))

    return (
        stream.writeStream.foreachBatch(_fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
