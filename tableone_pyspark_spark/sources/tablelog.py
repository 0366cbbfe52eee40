"""Versioned parquet tables — a minimal commit-log table format
(the core idea of Delta Lake's _delta_log / Iceberg's snapshot
manifests, re-expressed as driver-side JSON metadata over plain
parquet files): every write is an immutable VERSION listing exactly
which data files are live, so readers get snapshot isolation, time
travel, and an auditable history without a table-format dependency.

    layout   : <table>/_log/v{N}.json   (the commit log)
               <table>/data/<uuid>/...  (each commit's parquet files,
                                         written once, never mutated)
    commit   : write data to a fresh data dir, then publish
               v{N+1}.json via CREATE-exclusive semantics — two racing
               writers target the same version file name and exactly
               one wins (optimistic concurrency); the loser's data dir
               is unreachable garbage, never corruption
    read     : resolve the version's file list -> spark.read.parquet
               on exactly those files (time travel = pick N)

    append    : new version = previous files + this commit's files
    overwrite : new version = this commit's files only
    optimize  : content-identical overwrite into ~target-sized files
                (the small-files repair, r12); materializes deletion
                vectors
    stats     : commit(stats_cols=...) records per-file min/max/nulls;
                read_version(prune=[(col, op, lit)]) skips files whose
                range provably excludes the predicate (r12 — the
                Delta/Iceberg file-skipping idea)
    delete    : delete_rows(predicate) marks (file, row_index)
                positions in a DELETION VECTOR instead of rewriting
                files (r12 — Delta DVs / Iceberg positional deletes);
                readers subtract them with one anti-join, appends
                carry them forward, optimize folds them in
    merge     : merge_rows(source, keys) — MERGE INTO with deletion
                vectors (r14 — Delta's DV-backed MERGE): matched
                target rows retracted by position, postimages/inserts
                appended, ONE published version

Scale story: ALL bookkeeping is driver-side and metadata-sized (file
path lists in JSON); data moves executor-side through ordinary
parquet jobs. The log is append-only, so `history` and `read_version`
never race a writer. :func:`vacuum` reclaims files outside the kept
window (including orphaned loser-dirs) behind a load-bearing min-age
guard; :func:`streaming_commit` appends micro-batches exactly-once
(per-(table, stream) batch-id watermark). Schema evolution (X152) is
ADDITIVE-ONLY, opt-in per write: ``commit(merge_schema=True)`` may add
new nullable columns (readers NULL-fill them into pre-evolution files
by name); column drops and type changes are always refused — checked,
never silent. What this deliberately does NOT do (honest boundary vs
real Delta/Iceberg): CREATE-exclusive publishing rides
``FileContext.rename(.., Rename.NONE)`` — CONTRACTUAL no-overwrite on
local/HDFS (r12, ADVICE r11) — while schemes with no AbstractFileSystem
binding fall back to checked ``FileSystem.rename`` and object stores
still need their conditional-put equivalent.

No counterpart in the reference repo; completes the storage family
(write_table / bucketing / z-order / compaction) with the versioning
glue.
"""

from __future__ import annotations

import json
import logging
import math
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_log = logging.getLogger(__name__)

#: per-table auto-checkpoint failure counts (observability, ADVICE
#: r13): a persistently failing advisory checkpoint silently degrades
#: history() back to O(versions) forever — the commit
#: stays non-failing, but each failure now logs a warning and bumps
#: this counter so a permanently broken accelerator is visible.
#: Guarded by a lock (multi-threaded drivers commit concurrently);
#: size is bounded by distinct table paths this driver ever committed.
checkpoint_failures: dict[str, int] = {}
_ck_failures_lock = threading.Lock()


class CommitConflict(Exception):
    """Another writer published this version first — re-read and
    retry (optimistic concurrency's loser path)."""


def _fs(spark: SparkSession, path: str):
    # one FS-plumbing implementation repo-wide (cross-batch review
    # r11): compact.py owns the handle helper, this module adapts it
    from tableone_pyspark_spark.sources.compact import _fs_and_path

    fs, _, jvm, _ = _fs_and_path(spark, path)
    return fs, jvm


def _path(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _pa_fs(path: str):
    """A pyarrow filesystem and in-filesystem path for ``path``, for
    executor-side code that has no JVM: ``file:`` URIs and plain paths
    map to the local filesystem, other schemes go to ``from_uri``."""
    from urllib.parse import unquote, urlparse

    from pyarrow import fs as pafs

    if path.startswith("file:"):
        return pafs.LocalFileSystem(), unquote(urlparse(path).path)
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _read_json(spark: SparkSession, path: str) -> dict:
    # provably-local docs read directly (r17 — each py4j FS read costs
    # ~25 ms of JVM round-trips and a log walk makes dozens; guide §5
    # driver overhead); remote schemes keep the Hadoop API below
    from tableone_pyspark_spark.sources.compact import as_local

    lp = as_local(spark, path)
    if lp is not None:
        with open(lp, "rb") as fh:
            return json.loads(fh.read().decode("utf-8"))
    fs, jvm = _fs(spark, path)
    stream = fs.open(_path(spark, path))
    try:
        # py4j passes a python bytearray to java BY VALUE — a
        # stream.read(buf) loop would never see the filled bytes;
        # commons-io (shipped with Hadoop) returns a real byte[]
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        return json.loads(data.decode("utf-8"))
    finally:
        stream.close()


def _log_maxima(
    spark: SparkSession, table: str
) -> tuple[int | None, list[int]]:
    """ONE _log/ directory listing returning (highest committed
    version, sorted checkpoint versions) — callers needing both (the
    streaming-sink watermark hot path) must not pay two LIST calls
    per micro-batch (review r13; on an object store LIST is the
    expensive primitive)."""
    from tableone_pyspark_spark.sources.compact import as_local

    lp = as_local(spark, f"{table}/_log")
    if lp is not None:
        # r17 local fast path: one os.listdir instead of a py4j
        # exists + listStatus round-trip pair
        import os

        try:
            names = os.listdir(lp)
        except FileNotFoundError:
            return None, []
        return _log_maxima_from_names(names)
    fs, _ = _fs(spark, table)
    log = _path(spark, f"{table}/_log")
    if not fs.exists(log):
        return None, []
    names = [st.getPath().getName() for st in fs.listStatus(log)]
    return _log_maxima_from_names(names)


def _log_maxima_from_names(names: list[str]) -> tuple[int | None, list[int]]:
    best = None
    cks: list[int] = []
    for name in names:
        if name.startswith("_checkpoint_v") and name.endswith(".json"):
            try:
                cks.append(int(name[len("_checkpoint_v"):-5]))
            except ValueError:
                continue
        elif name.startswith("v") and name.endswith(".json"):
            try:
                n = int(name[1:-5])
            except ValueError:
                continue
            best = n if best is None else max(best, n)
    return best, sorted(cks)


#: X160 — protocol feature gates (Delta's reader/writer table
#: features): every version doc STAMPS the features its readers and
#: writers must understand, and this build refuses docs requiring
#: features it lacks — a loud upgrade error instead of a silent
#: misread (a reader without column mapping would NULL-fill every
#: renamed column; a writer without generated-column support would
#: publish rows that violate the persisted expressions). Old docs
#: carry no stamp and always pass; old readers ignore the field —
#: the gate protects every build FROM THIS ONE FORWARD.
READER_FEATURES = frozenset({"colmap", "dv", "widen"})
WRITER_FEATURES = READER_FEATURES | frozenset(
    {"constraints", "generated", "identity", "properties"}
)

#: X163 — the LOSSLESS type widenings merge_schema accepts (Delta's
#: type widening): the integer chain, float→double, and the integer
#: types that embed exactly in a double's 53-bit mantissa. bigint→
#: double is NOT here (loses precision past 2^53); nothing ever
#: narrows. Old files keep their narrow physical type — Spark 4's
#: parquet reader promotes them natively.
_WIDENINGS = {
    "tinyint": ("smallint", "int", "bigint", "double"),
    "smallint": ("int", "bigint", "double"),
    "int": ("bigint", "double"),
    "float": ("double",),
}


def _is_widening(frm: str, to: str) -> bool:
    return to in _WIDENINGS.get(frm, ())


def _doc_feature_stamps(doc: dict, prev: dict | None = None) -> tuple[list, list]:
    """(reader_requires, writer_requires) for a doc's content.

    Two hardenings beyond naive content-derivation (ADVICE r16):

    - ``retired`` alone demands the ``colmap`` WRITER feature even
      when the sparse ``colmap`` dict is empty (a drop of a
      never-renamed column leaves retired=[phys], colmap={}): a
      future writer build without column-mapping support would pass
      the gate and could re-add the dropped logical name with an
      identity physical name — since drop is metadata-only, the live
      files still hold the retired column's bytes and the dropped
      data would resurrect.
    - Stamps are MONOTONE (Delta keeps protocol features sticky):
      each doc's requires-sets union the previous doc's, so a feature
      a table has EVER used keeps gating every later writer — the
      hazards these gates guard (physical-name reuse, watermark
      regression, stale generated fills) outlive the doc content
      that introduced them.
    """
    rr = set()
    if doc.get("colmap"):
        rr.add("colmap")
    if doc.get("dv"):
        rr.add("dv")
    if doc.get("widened"):
        # X163: live files store types NARROWER than the declared
        # schema — a reader without widening promotion would fail (or
        # worse, misread through a cached file schema); writers must
        # not re-narrow
        rr.add("widen")
    wr = set(rr)
    if doc.get("retired"):
        # writer-only: a reader selecting the declared schema never
        # touches a retired physical column, so plain readers stay
        # compatible — only writers must understand the retired set
        wr.add("colmap")
    for k in ("constraints", "generated", "identity", "properties"):
        if doc.get(k):
            wr.add(k)
    if prev is not None:
        rr |= set(prev.get("reader_requires") or [])
        wr |= set(prev.get("writer_requires") or [])
    return sorted(rr), sorted(wr)


def _check_reader_features(doc: dict, table: str) -> None:
    missing = set(doc.get("reader_requires") or []) - READER_FEATURES
    if missing:
        raise ValueError(
            f"version {doc.get('version')} of {table} requires reader "
            f"features {sorted(missing)} this build does not support — "
            "upgrade the library before reading this table"
        )


def _check_writer_features(doc: dict, table: str) -> None:
    missing = set(doc.get("writer_requires") or []) - WRITER_FEATURES
    if missing:
        raise ValueError(
            f"version {doc.get('version')} of {table} requires writer "
            f"features {sorted(missing)} this build does not support — "
            "writing would break invariants a newer writer maintains; "
            "upgrade the library"
        )


def current_version(spark: SparkSession, table: str) -> int | None:
    """Highest committed version, or None for a not-yet-created
    table. One directory listing of _log/ — metadata-sized."""
    return _log_maxima(spark, table)[0]


def _version_doc(spark: SparkSession, table: str, version: int) -> dict:
    doc = _read_json(spark, f"{table}/_log/v{version}.json")
    # X160: the one parse point every read AND write path flows
    # through — a doc requiring reader features this build lacks must
    # refuse before anything consumes its file list
    _check_reader_features(doc, table)
    return doc


def _list_parquet(spark: SparkSession, root: str) -> list[str]:
    """Visible leaf data files under a fresh commit's data dir — the
    same walk compact.py's lister does (reused, not re-implemented;
    cross-batch review r11). Commit dirs are flat parquet writes, so
    the hive-layout guard in there can never fire here."""
    from tableone_pyspark_spark.sources.compact import list_data_files

    return [p for p, _ in list_data_files(spark, root)]


def _file_len(spark: SparkSession, path: str) -> int:
    """File size in bytes — ``os.stat`` for provably-local files (a
    ``getFileStatus`` py4j round-trip per file adds up over a commit's
    file list; r17), the Hadoop FS API otherwise."""
    from tableone_pyspark_spark.sources.compact import as_local

    lp = as_local(spark, path)
    if lp is not None:
        import os

        return os.stat(lp).st_size
    fs, _ = _fs(spark, path)
    return int(fs.getFileStatus(_path(spark, path)).getLen())


def _rename_no_overwrite(spark, fs, jvm, src, dst) -> bool:
    """True = renamed, False = destination already existed (the
    conflict signal). Prefers ``FileContext.rename(.., Rename.NONE)``,
    which CONTRACTUALLY throws FileAlreadyExistsException on an
    existing destination (ADVICE r11: plain ``FileSystem.rename``
    returning false on an existing destination is implementation
    behavior, not contract — some object-store connectors and
    LocalFileSystem versions overwrite instead, silently replacing a
    winner's commit doc). Schemes without an AbstractFileSystem
    binding (no FileContext — e.g. raw s3a) fall back to the checked
    ``fs.rename``, keeping the documented object-store caveat for
    that case only."""
    from py4j.protocol import Py4JJavaError

    qdst = fs.makeQualified(dst)
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            qdst.toUri(), spark._jsc.hadoopConfiguration()
        )
    except Py4JJavaError as ex:
        # ONLY UnsupportedFileSystemException (no AbstractFileSystem
        # binding for this scheme) may downgrade to the legacy
        # best-effort rename; any other failure (RPC hiccup,
        # credential error) must NOT silently reopen the
        # overwrite-a-winner hazard this function exists to close
        # (self-review r12)
        name = ex.java_exception.getClass().getName()
        if not name.endswith("UnsupportedFileSystemException"):
            raise
        return fs.rename(src, dst)
    rename_opt = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename_opt, 1)
    opts[0] = rename_opt.NONE
    try:
        fc.rename(fs.makeQualified(src), qdst, opts)
        return True
    except Py4JJavaError as ex:
        name = ex.java_exception.getClass().getName()
        if name.endswith("FileAlreadyExistsException"):
            return False
        raise


def _remap_stats(stats: dict, files: list[str]) -> dict:
    """Re-key ``input_file_name()`` URIs onto the commit's file-list
    entries (URI path suffix match — ``file:///x`` vs ``file:/x`` vs
    plain ``/x`` all normalize to the path). A file the scan did not
    report keeps no stats (and is therefore never skipped)."""
    from urllib.parse import unquote, urlparse

    def _p(u: str) -> str:
        return unquote(urlparse(u).path) or u

    by_path = {_p(f): f for f in files}
    out = {}
    for k, v in stats.items():
        f = by_path.get(_p(k))
        if f is not None:
            out[f] = v
    return out


#: sentinel: _publish inherits the previous version's constraints —
#: the default, so NO publish site (present or future) can silently
#: drop a persisted CHECK constraint; pass an explicit dict/None to
#: override (v0 creators, clone carrying the SOURCE's set)
_INHERIT = object()


def _publish(
    spark: SparkSession,
    table: str,
    version: int,
    files: list[str],
    mode: str,
    schema_json: str,
    batch_id: int | None = None,
    stream_id: str | None = None,
    stats: dict | None = None,
    dv: list | None = None,
    constraints=_INHERIT,
    merge_meta: dict | None = None,
    user_metadata: str | None = None,
    generated=_INHERIT,
    properties=_INHERIT,
    colmap=_INHERIT,
    retired=_INHERIT,
    schema_change: dict | None = None,
    identity=_INHERIT,
    clustered: dict | None = None,
    widened=_INHERIT,
) -> dict:
    """CREATE-exclusive publish of v{version}.json: exactly one of two
    racing writers can create the file (overwrite=False), the other
    gets CommitConflict. Written through a temp name + exclusive-create
    stream so a torn write never parses as a commit. ``constraints``
    (X149) defaults to INHERITING the previous version's set — a
    maintenance publish (optimize/restore/delete) can never silently
    shed the table's CHECK constraints. ``committed_at`` is clamped
    MONOTONE against the previous version (Delta's in-commit
    timestamps): the log is linear, so reading the predecessor's
    stamp at publish time guarantees per-table monotonicity whatever
    the writers' wall clocks — :func:`version_at` resolution is then
    deterministic with no cross-writer skew caveat (r15)."""
    prev_published = (
        _version_doc(spark, table, version - 1) if version > 0 else None
    )
    if prev_published is not None:
        # X160: publishing on top of a doc maintained by a more
        # capable writer would break its invariants — refuse
        _check_writer_features(prev_published, table)
    if constraints is _INHERIT:
        constraints = (
            prev_published.get("constraints") if prev_published else None
        )
    if generated is _INHERIT:
        # X153 generated-column exprs inherit exactly like constraints
        # — no maintenance publish can silently shed them
        generated = (
            prev_published.get("generated") if prev_published else None
        )
    if properties is _INHERIT:
        # X155 table properties inherit the same way
        properties = (
            prev_published.get("properties") if prev_published else None
        )
    if colmap is _INHERIT:
        # X157 column mapping inherits like constraints: a maintenance
        # publish (delete/set_constraint/…) can never silently snap
        # logical names back to physical ones
        colmap = prev_published.get("colmap") if prev_published else None
    if retired is _INHERIT:
        retired = prev_published.get("retired") if prev_published else None
    if widened is _INHERIT:
        # X163: which columns' live files may store a NARROWER type
        # than the declared schema — inherits like colmap (a
        # maintenance publish must never shed the record while narrow
        # files are still reachable through restore/time travel)
        widened = (
            prev_published.get("widened") if prev_published else None
        )
    if identity is _INHERIT:
        # X158 identity metadata inherits too — a maintenance publish
        # must never reset a watermark (duplicate ids would follow)
        identity = (
            prev_published.get("identity") if prev_published else None
        )
    committed_at = time.time()
    if prev_published and committed_at <= prev_published["committed_at"]:
        committed_at = prev_published["committed_at"] + 1e-6
    # _log/ creation now lives in _write_log_doc_exclusive (both the
    # local and the Hadoop branch) — no py4j round-trip here (r17)
    doc = {
        "version": version,
        "mode": mode,
        "files": files,
        "schema": schema_json,
        "committed_at": committed_at,
    }
    if constraints:
        doc["constraints"] = constraints
    if generated:
        doc["generated"] = generated
    if properties:
        doc["properties"] = properties
    if colmap:
        doc["colmap"] = colmap
    if retired:
        doc["retired"] = retired
    if widened:
        doc["widened"] = widened
    if schema_change:
        # X157 — a rename/drop version announces itself in the log
        doc["schema_change"] = schema_change
    if identity:
        doc["identity"] = identity
    if batch_id is not None:
        doc["batch_id"] = batch_id
    if stream_id is not None:
        doc["stream_id"] = stream_id
    if stats:
        doc["stats"] = stats
    if dv:
        doc["dv"] = dv
    if merge_meta:
        # r15: a merge version records its clause + which appended
        # files are UPDATE POSTIMAGES (vs fresh inserts) so the change
        # feed can deliver Delta's update_preimage/update_postimage
        # labels instead of bare delete/insert pairs
        doc["merge"] = merge_meta
    if clustered:
        # X161: a clustered OPTIMIZE stamps which of this version's
        # files ARE the clustered layout (physical column names +
        # curve + file list) — the next bare optimize() rewrites only
        # files added since, carrying these byte-identical. Stamped
        # only on optimize versions; later readers walk back to it.
        doc["clustered"] = clustered
    if user_metadata is not None:
        # r15 — Delta's commitInfo userMetadata: a caller-supplied
        # audit string stamped on the version doc (job id, ticket,
        # pipeline run), surfaced by describe_detail and history
        doc["user_metadata"] = str(user_metadata)
    rr, wr = _doc_feature_stamps(doc, prev_published)
    if rr:
        doc["reader_requires"] = rr
    if wr:
        doc["writer_requires"] = wr
    _write_log_doc_exclusive(spark, table, f"v{version}.json", doc)
    ck_every = CHECKPOINT_EVERY
    if properties and "checkpoint.every" in properties:
        # X155: the auto-checkpoint cadence is table-owned too — a
        # high-commit-rate table checkpoints more often without every
        # writer process agreeing on a module constant. Parsed
        # DEFENSIVELY: the doc write above already landed, so a
        # malformed stored value must degrade to the default, never
        # fail a commit that is durable (review r15 — a raised
        # "failed" commit would be retried and duplicate its rows)
        try:
            ck_every = int(properties["checkpoint.every"])
            if ck_every < 1:
                raise ValueError(ck_every)
        except (TypeError, ValueError):
            _log.warning(
                "ignoring malformed checkpoint.every=%r on %s",
                properties.get("checkpoint.every"), table,
            )
            ck_every = CHECKPOINT_EVERY
    if version > 0 and version % ck_every == 0:
        # advisory accelerator only: a failed/raced checkpoint must
        # never fail the commit it rides on (X139)
        try:
            write_checkpoint(spark, table, version)
        except CommitConflict:
            pass  # a racing writer published this checkpoint — fine
        except Exception as e:  # noqa: BLE001
            # keep the commit non-failing, but make a permanently
            # broken accelerator OBSERVABLE (ADVICE r13): without a
            # checkpoint, history()/last_committed_batch silently
            # degrade to O(versions) doc walks
            with _ck_failures_lock:
                checkpoint_failures[table] = (
                    checkpoint_failures.get(table, 0) + 1
                )
                n_fail = checkpoint_failures[table]
            _log.warning(
                "tablelog auto-checkpoint failed for %s at v%d "
                "(failure #%d for this table): %r — log-walking "
                "readers degrade to O(versions) until a checkpoint "
                "succeeds; call write_checkpoint() explicitly to see "
                "the error",
                table, version, n_fail, e,
            )
    return doc


def _write_log_doc_exclusive(
    spark: SparkSession, table: str, name: str, doc: dict
) -> None:
    """Shared CREATE-exclusive _log/ JSON writer (commit docs and
    checkpoint docs): temp name + exclusive-create stream + contractual
    no-overwrite rename (ADVICE r11 — FileContext.Rename.NONE throws on
    an existing destination), so a torn write never parses and two
    racers produce exactly one winner + one CommitConflict.

    Provably-local tables take the direct ``os`` route (r17, guide
    §5.3 — the Hadoop path costs ~4 py4j round-trips per publish and a
    staged lifecycle publishes dozens of docs): ``O_CREAT|O_EXCL`` temp
    + ``os.link`` to the target gives the same torn-write-never-parses
    + exactly-one-winner guarantees (``link(2)`` fails atomically on an
    existing destination). Any other OS-level surprise (e.g. a local fs
    without hard links) falls back to the Hadoop writer unchanged."""
    from tableone_pyspark_spark.sources.compact import as_local

    lroot = as_local(spark, table)
    if lroot is not None:
        import os

        d = os.path.join(lroot, "_log")
        tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
        try:
            os.makedirs(d, exist_ok=True)
            fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, json.dumps(doc).encode("utf-8"))
            finally:
                os.close(fd)
            try:
                os.link(tmp, os.path.join(d, name))
            except FileExistsError:
                os.unlink(tmp)
                raise CommitConflict(
                    f"log doc {name} of {table} was written "
                    "concurrently — re-read and retry"
                )
            os.unlink(tmp)
            return
        except CommitConflict:
            raise
        except OSError:
            # e.g. hard links unsupported — the Hadoop path still works
            try:
                if os.path.exists(tmp):
                    os.unlink(tmp)
            except OSError:
                pass
    fs, jvm = _fs(spark, table)
    fs.mkdirs(_path(spark, f"{table}/_log"))
    target = _path(spark, f"{table}/_log/{name}")
    tmp = _path(spark, f"{table}/_log/.{name}.{uuid.uuid4().hex}.tmp")
    stream = fs.create(tmp, False)
    try:
        stream.write(bytearray(json.dumps(doc).encode("utf-8")))
    finally:
        stream.close()
    if not _rename_no_overwrite(spark, fs, jvm, tmp, target):
        fs.delete(tmp, False)
        raise CommitConflict(
            f"log doc {name} of {table} was written concurrently — "
            "re-read and retry"
        )


def _schema_shape(schema_json: str) -> list:
    """(name, type) pairs with nullability/metadata stripped: parquet
    read-back marks every column nullable, so raw schema-JSON equality
    would spuriously refuse appending a table's own read_version
    output (self-append / compaction pipelines — self-review r11)."""
    from pyspark.sql.types import StructType

    st = StructType.fromJson(json.loads(schema_json))
    return [(f.name, f.dataType.simpleString()) for f in st.fields]


def _widened_struct(schema_json: str):
    """The doc's schema as a StructType with nullability widened to
    true at every nesting level — the declared READ schema. Two
    reasons (X152): parquet read-back widens nullability anyway, and
    additive schema evolution NULL-fills a new column into OLD files,
    so a writer-declared non-null field must not be trusted at read
    time (wrong nullability mis-informs codegen)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    def widen(dt):
        if isinstance(dt, StructType):
            return StructType(
                [
                    StructField(f.name, widen(f.dataType), True, f.metadata)
                    for f in dt.fields
                ]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(widen(dt.elementType), True)
        if isinstance(dt, MapType):
            # keys widen too (nested struct-typed keys carry fields)
            return MapType(widen(dt.keyType), widen(dt.valueType), True)
        return dt

    return widen(StructType.fromJson(json.loads(schema_json)))


def _colmap(doc: dict) -> dict:
    """The version's SPARSE column mapping {logical: physical} (X157,
    Delta's column mapping): entries exist only where the names
    differ — an absent/empty map is the identity, which every table
    that never renamed a column keeps forever (zero read overhead)."""
    return doc.get("colmap") or {}


def _phys(colmap: dict, name: str) -> str:
    return colmap.get(name, name)


def _to_physical(df: DataFrame, colmap: dict) -> DataFrame:
    """``df`` with its columns renamed logical→physical — what every
    DATA-FILE write runs through (X157): parquet files always store
    PHYSICAL names, which never change after a column is created, so
    one read mapping serves every file of every version."""
    if not colmap or not any(c in colmap for c in df.columns):
        return df
    return df.select(
        *[F.col(f"`{c}`").alias(_phys(colmap, c)) for c in df.columns]
    )


_LISTING_LOCK = threading.Lock()


def _read_parquet_paths(spark: SparkSession, schema, files: list[str]):
    """``spark.read.schema(...).parquet(*files)`` over an explicit
    file list. Past ``spark.sql.sources.parallelPartitionDiscovery.
    threshold`` paths, Spark launches a distributed listing JOB just
    to stat the files — right for object stores, pure overhead for a
    few hundred provably driver-local paths the driver stats in
    microseconds (guide §6; measured ~0.8 s -> ~0.14 s per reader at
    200 local files). Lift the threshold for the (eager) reader
    construction when every path is local; remote paths keep the
    distributed listing unchanged. The module lock serializes the
    set/restore against concurrent maintenance threads."""
    from tableone_pyspark_spark.sources.compact import as_local

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    try:
        thr = int(spark.conf.get(key))
    except Exception:  # pragma: no cover - conf always resolvable
        thr = 32
    if len(files) <= thr or any(
        as_local(spark, f) is None for f in files
    ):
        return spark.read.schema(schema).parquet(*files)
    with _LISTING_LOCK:
        spark.conf.set(key, str(len(files)))
        try:
            return spark.read.schema(schema).parquet(*files)
        finally:
            spark.conf.set(key, str(thr))


def _read_files(
    spark: SparkSession,
    files: list[str],
    schema_json: str,
    colmap: dict | None = None,
) -> DataFrame:
    """Read a version's data files THROUGH its doc's declared schema
    (widened) instead of footer inference. Identical to a plain
    ``spark.read.parquet`` for uniform-schema tables, and load-bearing
    after additive evolution (X152): a version's live set then MIXES
    pre-evolution files (missing the new columns) with post-evolution
    ones — by-name resolution against the declared schema NULL-fills
    the gaps per file, where footer inference would pick one file's
    schema at random and silently drop or crash on the rest.

    ``colmap`` (X157 column mapping): files store PHYSICAL names, so
    the scan schema carries them and the result is projected back to
    the declared LOGICAL names. Identity maps take the plain path —
    and Spark's hidden ``_metadata`` pseudo-column resolves through
    the projection (verified on Spark 4), so deletion vectors keep
    working on mapped reads."""
    st = _widened_struct(schema_json)
    if not colmap:
        return _read_parquet_paths(spark, st, files)
    from pyspark.sql.types import StructField, StructType

    phys = StructType(
        [
            StructField(_phys(colmap, f.name), f.dataType, True, f.metadata)
            for f in st.fields
        ]
    )
    raw = _read_parquet_paths(spark, phys, files)
    return raw.select(
        *[
            F.col(f"`{_phys(colmap, f.name)}`").alias(f.name)
            for f in st.fields
        ]
    )


def _evolve_schema(table_schema_json: str, df_schema_json: str) -> str:
    """X152 — additive-only schema evolution (the core of Delta's
    ``mergeSchema``): the evolved table schema is the table's columns
    in their existing order, followed by the dataframe's NEW columns
    in dataframe order (forced nullable — old files NULL-fill them).
    A write MISSING some table columns is fine (the table schema
    keeps them — this write's files are NULL-filled on read, Delta's
    missing-column append rule); order-only difference leaves the
    schema unchanged. TYPE changes (X163, Delta's type widening): a
    write whose column is WIDER along a lossless :data:`_WIDENINGS`
    path widens the DECLARED type (old narrow files promote at read
    time); a write NARROWER along such a path keeps the declared
    type (the caller casts the dataframe up before writing); any
    other retyping raises. Returns the evolved schema json."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    tbl = StructType.fromJson(json.loads(table_schema_json))
    new = StructType.fromJson(json.loads(df_schema_json))
    new_types = {f.name: f.dataType.simpleString() for f in new.fields}
    retyped = []
    widen_to: dict[str, str] = {}
    for f in tbl.fields:
        if f.name not in new_types:
            continue
        old_t, new_t = f.dataType.simpleString(), new_types[f.name]
        if old_t == new_t:
            continue
        if _is_widening(old_t, new_t):
            widen_to[f.name] = new_t  # declared type widens
        elif _is_widening(new_t, old_t):
            pass  # narrow write — caller casts the df up (X163)
        else:
            retyped.append((f.name, old_t, new_t))
    if retyped:
        raise ValueError(
            f"merge_schema is additive-only: column type changes "
            f"{retyped} are refused (only the lossless widenings "
            f"{sorted(_WIDENINGS)} evolve, X163) — overwrite or "
            "migrate explicitly"
        )
    _atom = {
        "smallint": ShortType(),
        "int": IntegerType(),
        "bigint": LongType(),
        "double": DoubleType(),
    }
    tbl_fields = [
        StructField(f.name, _atom[widen_to[f.name]], f.nullable, f.metadata)
        if f.name in widen_to
        else f
        for f in tbl.fields
    ]
    tbl = StructType(tbl_fields)
    have = {f.name for f in tbl.fields}
    added = [
        StructField(f.name, f.dataType, True, f.metadata)
        for f in new.fields
        if f.name not in have
    ]
    # case-variant guard (self-review r15): Spark resolves parquet
    # columns case-insensitively by default, so "adding" K next to an
    # existing k would publish a schema whose reads are ambiguous —
    # refuse it loudly (Delta's case-variant rule), matching is
    # deliberately exact-case only
    have_lower = {f.name.lower() for f in tbl.fields}
    variants = [f.name for f in added if f.name.lower() in have_lower]
    # ... and among the added columns THEMSELVES (ADVICE r15): one
    # write carrying both 'K' and 'k' passed the table-side check and
    # only died later at parquet write time, bypassing this curated
    # refusal
    added_lower: dict[str, str] = {}
    for f in added:
        lo = f.name.lower()
        if lo in added_lower:
            variants.append(f.name)
        added_lower[lo] = f.name
    if variants:
        raise ValueError(
            f"merge_schema refuses case-variant columns {variants} — "
            "they differ only by case from existing table columns "
            "(or from each other within this write), and "
            "case-insensitive parquet resolution would make every "
            "read ambiguous; rename the write's columns"
        )
    return StructType(list(tbl.fields) + added).json()


def _assign_physical(
    new_logicals: list[str],
    existing_physicals: list[str],
    retired: list[str],
) -> dict:
    """X157 — physical names for columns entering the schema: the
    logical name itself (the zero-overhead identity that keeps colmap
    sparse) unless it collides case-insensitively with a live physical
    name or a RETIRED one — a dropped column's physical data still
    sits in old files, and re-using its name would silently resurrect
    it (Delta's reason for uuid physical names). Collisions get a
    uuid-suffixed physical name instead. Returns the sparse colmap
    ADDITIONS only."""
    taken = {p.lower() for p in retired}
    taken |= {p.lower() for p in existing_physicals}
    out: dict = {}
    for name in new_logicals:
        if name.lower() in taken:
            out[name] = f"{name}__c{uuid.uuid4().hex[:8]}"
        taken.add(out.get(name, name).lower())
    return out


def _identity_grid_ceil(value: int, start: int, step: int) -> int:
    """The sequence member at-or-past ``value`` in the allocation
    direction (X158 — the watermark alignment Delta's SYNC IDENTITY
    performs): smallest member >= value for an ascending sequence,
    largest member <= value for a descending one."""
    if step > 0:
        if value <= start:
            return start
        return start + -(-(value - start) // step) * step
    if value >= start:
        return start
    return start + -(-(start - value) // (-step)) * step


#: past this many partitions the pid→offset lookup becomes a
#: broadcast join — a 100k-entry CREATE_MAP literal would blow the
#: codegen budget, while 8k literals stay comfortably inside it
_OFFSET_MAP_MAX = 8192


def _fill_identity(df: DataFrame, col: str, decl_type: str, nxt: int, step: int):
    """X158 — allocate identity values for an omitted column: the
    CONSECUTIVE range {nxt, nxt+step, …} assigned with a two-pass
    partition-offset scheme (one metadata-sized count per partition →
    driver cumsum → one pure-JVM projection), never a global sort or
    a single-partition window — the scalable zipWithIndex; at 100 TB
    a window over a constant key would funnel the whole write through
    one task. The caller must pin ``df`` first (``localCheckpoint``)
    so both passes see identical partitions.

    The fill is whole-stage-codegen EXPRESSIONS (ADVICE r16 — the
    previous version routed the entire frame through an
    Arrow→pandas→Arrow ``mapInPandas`` and rebuilt the output schema
    from ``simpleString``, a lossy-round-trip risk for nested/exotic
    column types and a needless Python-worker hop for every other
    column): ``monotonically_increasing_id()`` packs the partition id
    into the upper 31 bits and the consecutive
    record-number-within-partition into the lower 33 (the documented
    ``pyspark.sql.functions`` contract — the same per-partition
    counter ``zipWithIndex`` uses; the density tests in
    test_identity.py pin it), so the value is
    ``nxt + step·(offset[pid] + low33(mid))`` and every other column
    passes through UNTOUCHED — no type translation at all. The
    pid→offset lookup is a literal map for ≤ _OFFSET_MAP_MAX
    partitions and a broadcast join past that.
    Returns ``(filled_df, n_allocated)``; the new column lands LAST
    (the caller restores table order, the generated-fill rule)."""
    pid_col, mid_col = "__idn_pid", "__idn_mid"
    for c in (pid_col, mid_col):
        if c in df.columns:
            raise ValueError(
                f"column {c!r} collides with the identity internals — "
                "rename it"
            )
    counts = {
        r[0]: r[1]
        for r in df.groupBy(
            F.spark_partition_id().alias(pid_col)
        ).count().collect()
    }
    offsets: dict = {}
    acc = 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    if acc == 0:
        return df.withColumn(col, F.lit(None).cast(decl_type)), 0
    mid = F.monotonically_increasing_id()
    local_idx = mid.bitwiseAND(F.lit((1 << 33) - 1))
    pid = F.shiftright(mid, 33).cast("int")
    if len(offsets) <= _OFFSET_MAP_MAX:
        # keys/values pinned to int/long — Python-int literals pick
        # their width from the value, and create_map refuses mixed
        # value types once an offset crosses 2^31
        mapping = F.create_map(
            *[
                e
                for k, v in sorted(offsets.items())
                for e in (
                    F.lit(k).cast("int"),
                    F.lit(v).cast("long"),
                )
            ]
        )
        gidx = mapping[pid] + local_idx
        filled = df.withColumn(
            col, (F.lit(nxt) + F.lit(step) * gidx).cast(decl_type)
        )
    else:
        off_df = df.sparkSession.createDataFrame(
            sorted(offsets.items()), f"{pid_col} int, __idn_off long"
        )
        filled = (
            df.withColumn(pid_col, pid)
            .withColumn(mid_col, local_idx)
            .join(F.broadcast(off_df), pid_col)
            .withColumn(
                col,
                (
                    F.lit(nxt)
                    + F.lit(step) * (F.col("__idn_off") + F.col(mid_col))
                ).cast(decl_type),
            )
            .drop(pid_col, mid_col, "__idn_off")
        )
    return filled, acc


def _advance_identity(
    identity: dict, df: DataFrame, exclude: list | None = None
) -> dict:
    """X158 — watermark advance for SUPPLIED identity columns (Delta's
    GENERATED BY DEFAULT): one agg over the change-sized frame per
    write; NULL values refuse loudly (identity columns are implicitly
    NOT NULL); the high-water moves past the supplied extreme in the
    allocation direction (aligned to the sequence grid) and NEVER
    retreats. Returns the updated identity dict."""
    supplied = [
        c
        for c in identity
        if c in df.columns and c not in (exclude or [])
    ]
    if not supplied:
        return identity
    aggs = []
    for c in supplied:
        q = F.col(f"`{c}`")
        aggs += [
            F.max(q).alias(f"__mx_{c}"),
            F.min(q).alias(f"__mn_{c}"),
            F.count(F.when(q.isNull(), 1)).alias(f"__nu_{c}"),
        ]
    row = df.agg(*aggs).first()
    out = dict(identity)
    for c in supplied:
        if row[f"__nu_{c}"]:
            raise ValueError(
                f"identity column {c!r} supplied with NULL value(s) — "
                "identity columns are NOT NULL; omit the column to "
                "have values generated"
            )
        meta = out[c]
        ext = row[f"__mx_{c}"] if meta["step"] > 0 else row[f"__mn_{c}"]
        if ext is None:
            continue
        aligned = _identity_grid_ceil(int(ext), meta["start"], meta["step"])
        high = meta["high"]
        if (meta["step"] > 0 and aligned > high) or (
            meta["step"] < 0 and aligned < high
        ):
            out[c] = {**meta, "high": aligned}
    return out


_STATS_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "date",
)


def _check_stats_cols(schema, stats_cols: list[str]) -> None:
    """Validate BEFORE any data is written (a typo'd stats column must
    not cost a full commit write — self-review r12). Types are
    EXACT-matched: a startswith gate let 'interval day to second'
    through via 'int' and its stringified bounds compare
    lexicographically — the silent-wrong-skipping class the gate
    exists to refuse (self-review r12)."""
    names = set(schema.fieldNames())
    for c in stats_cols:
        if c not in names:
            raise ValueError(f"stats column {c!r} not in the data")
        t = schema[c].dataType.simpleString()
        if t not in _STATS_TYPES:
            raise ValueError(
                f"stats column {c!r} has unorderable/unsupported type "
                f"{t} — supported: {', '.join(_STATS_TYPES)}"
            )


def _check_violations(df: DataFrame, constraints: dict) -> dict:
    """{name: violating-row count} over ``df`` for every persisted
    CHECK constraint, in ONE aggregation pass. SQL CHECK semantics: a
    row violates only when the expression is FALSE — NULL/UNKNOWN
    passes (the standard's rule and Delta's)."""
    aggs = [
        F.coalesce(
            F.sum(
                F.when(
                    F.coalesce(F.expr(sql), F.lit(True)), F.lit(0)
                ).otherwise(F.lit(1))
            ),
            F.lit(0),
        ).cast("long").alias(f"__c{i}")
        for i, sql in enumerate(constraints.values())
    ]
    row = df.agg(*aggs).collect()[0]
    return {
        name: int(row[f"__c{i}"])
        for i, name in enumerate(constraints)
        if row[f"__c{i}"]
    }


def _enforce_constraints(
    spark: SparkSession,
    constraints: dict | None,
    files: list[str],
    table: str,
    what: str,
    schema_json: str | None = None,
    colmap: dict | None = None,
) -> None:
    """X149 write-path gate: raise (BEFORE any publish — the data dir
    stays an invisible orphan) if any new-file row violates a
    persisted CHECK constraint. One change-sized scan for all
    constraints together; a constraint referencing a column the new
    schema lacks fails the write loudly (drop the constraint first —
    never silently skip enforcement). ``schema_json`` (X152) reads the
    files through the declared table schema, so a missing-column
    append evaluates its constraints over NULL — the value readers
    will actually see — instead of crashing on the absent column;
    ``colmap`` (X157) maps the files' physical names back to the
    logical ones the constraint SQL references."""
    if not constraints or not files:
        return
    df = (
        _read_files(spark, files, schema_json, colmap)
        if schema_json is not None
        else spark.read.parquet(*files)
    )
    bad = _check_violations(df, constraints)
    if bad:
        raise ValueError(
            f"{what} to {table} violates CHECK constraint(s): "
            + "; ".join(
                f"{n!r} ({constraints[n]}) — {c} row(s)"
                for n, c in bad.items()
            )
            + " — nothing was published"
        )


def _enforce_generated(
    spark: SparkSession,
    generated: dict | None,
    files: list[str],
    table: str,
    what: str,
    schema_json: str | None = None,
    colmap: dict | None = None,
) -> None:
    """X153 write-path gate: a write that SUPPLIES a generated column
    must agree with its expression on every new row (null-safe
    compare — Delta's GENERATED ALWAYS AS enforcement); raising here
    leaves the data dir an invisible orphan, like the CHECK gate.
    ``colmap`` (X157) restores logical names for the expressions."""
    if not generated or not files:
        return
    df = (
        _read_files(spark, files, schema_json, colmap)
        if schema_json is not None
        else spark.read.parquet(*files)
    )
    decl = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    checks = {
        gcol: (
            f"{gcol} <=> CAST(({gexpr}) AS "
            f"{decl.get(gcol, 'double')})"
        )
        for gcol, gexpr in generated.items()
    }
    bad = _check_violations(df, checks)
    if bad:
        raise ValueError(
            f"{what} to {table} disagrees with generated column(s): "
            + "; ".join(
                f"{n!r} (GENERATED ALWAYS AS {generated[n]}) — "
                f"{c} row(s)"
                for n, c in bad.items()
            )
            + " — nothing was published; omit the column to have it "
            "computed"
        )


def _footer_file_stats(
    spark: SparkSession,
    files: list[str],
    stats_cols: list[str],
    colmap: dict | None,
) -> dict | None:
    """Per-file (min, max, null_count) straight from the parquet
    FOOTERS (r17, the Iceberg writer-metrics idea): the files were
    written moments ago by this engine, their footers already carry
    exactly the statistics the version doc wants — re-deriving them
    with a second distributed scan of every new row (the previous
    shape) costs one full pass of the commit's data. Footer reads are
    metadata-sized driver work.

    Returns None whenever the footer route cannot reproduce the scan's
    EXACT semantics — non-local files, pyarrow missing, a column type
    outside the reproducible set, or any chunk lacking trustworthy
    statistics — and the caller falls back to the distributed scan
    unchanged. Reproducibility notes: parquet min_value/max_value use
    unsigned-UTF-8-byte ordering for strings, which equals Spark's
    UTF8String ordering and Python's code-point ordering; parquet-mr
    omits min/max for float chunks containing NaN, which maps onto
    this module's documented NaN-omission rule; ±Inf bounds are
    omitted the same way the scan path omits them."""
    from tableone_pyspark_spark.sources.compact import as_local

    locs = []
    for f in files:
        lp = as_local(spark, f)
        if lp is None:
            return None
        locs.append((f, lp))
    try:
        import pyarrow.parquet as _pq
    except Exception:  # pragma: no cover - pyarrow ships with pyspark
        return None
    cm = colmap or {}
    import datetime as _dt

    def _col_kind(cs) -> str | None:
        # the _STATS_TYPES set, in parquet terms; None = not
        # reproducible here (timestamps, decimals, bool, int96, ...)
        lt = str(cs.logical_type.type).upper()
        pt = cs.physical_type
        if lt == "DATE":
            return "date"
        if lt == "STRING":
            return "string"
        if lt in ("NONE", "INT"):
            if pt == "INT32":
                return "int"
            if pt == "INT64":
                return "int"
        if lt == "NONE" and pt == "FLOAT":
            return "float"
        if lt == "NONE" and pt == "DOUBLE":
            return "float"
        return None

    out: dict = {}
    for f, lp in locs:
        try:
            md = _pq.ParquetFile(lp).metadata
        except Exception:
            return None
        if md.num_rows == 0:
            # the scan's groupBy(input_file_name) yields no row for an
            # empty file — no stats entry
            continue
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        st: dict = {}
        for c in stats_cols:
            p = _phys(cm, c)
            if p not in idx:
                return None
            ci = idx[p]
            kind = _col_kind(md.schema.column(ci))
            if kind is None:
                return None
            mins: list = []
            maxs: list = []
            nulls = 0
            nan_case = False
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                col = rgm.column(ci)
                s = col.statistics
                if s is None or not s.has_null_count:
                    return None
                nulls += s.null_count
                if s.has_min_max:
                    mins.append(s.min)
                    maxs.append(s.max)
                elif s.null_count == rgm.num_rows:
                    pass  # all-null chunk contributes no bounds
                elif kind == "float":
                    # parquet writers drop min/max when NaN is present
                    # — the scan path omits the column then too
                    nan_case = True
                else:
                    return None  # bounds missing for no modeled reason
            if nan_case:
                continue
            if not mins:
                st[c] = [None, None, int(nulls)]  # all-null file
                continue
            mn, mx = min(mins), max(maxs)
            if kind == "float" and not (
                math.isfinite(mn) and math.isfinite(mx)
            ):
                continue  # the scan path's NaN/Inf omission rule
            if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                continue  # defensive: never publish NaN bounds
            if isinstance(mn, _dt.date):
                mn, mx = str(mn), str(mx)
            st[c] = [mn, mx, int(nulls)]
        out[f] = st
    return out


def _footer_num_rows(spark: SparkSession, files: list[str]) -> int | None:
    """Exact total row count of ``files`` from the parquet FOOTERS —
    metadata-sized driver work replacing a limit-1/count job (guide
    §1.2/§5.3). Unlike min/max stats there is NO semantics gap to
    model: the footer's ``num_rows`` IS the file's row count for any
    type, so the fast path is exact whenever every file is provably
    driver-local; returns None otherwise (or on any read hiccup) and
    the caller runs the distributed probe unchanged."""
    from tableone_pyspark_spark.sources.compact import as_local

    locs = []
    for f in files:
        lp = as_local(spark, f)
        if lp is None:
            return None
        locs.append(lp)
    try:
        import pyarrow.parquet as _pq
    except Exception:  # pragma: no cover - pyarrow ships with pyspark
        return None
    total = 0
    for lp in locs:
        try:
            total += _pq.ParquetFile(lp).metadata.num_rows
        except Exception:
            return None
    return total


def _collect_file_stats(
    spark: SparkSession,
    files: list[str],
    stats_cols: list[str],
    colmap: dict | None = None,
) -> dict:
    """Per-file (min, max, null_count) for ``stats_cols``. Fast path
    (r17): provably-local files answer from their parquet FOOTERS —
    metadata-sized driver work, zero data scanned. Everything else
    (remote FS, a type or footer shape the fast path cannot reproduce
    exactly) falls back to ONE distributed pass over exactly this
    commit's files (grouped by ``input_file_name``), which works on
    any FileSystem and costs one scan of the NEW data only (the
    Delta add-file-stats idea). Only orderable scalar types
    participate; others raise (no silent stat-less columns — callers
    asking for skipping stats must get them or know why not).
    Timestamps and decimals are deliberately excluded: timestamp
    JSON round-trips ride session timezones, and stringified decimals
    compare lexicographically (\"9.5\" > \"10.2\") — either would make
    skipping silently WRONG rather than merely absent. Date stats are
    stored as ISO strings; pass the ISO string form as the prune
    literal (ISO compares correctly as text)."""
    if not files:
        return {}
    footer = _footer_file_stats(spark, files, stats_cols, colmap)
    if footer is not None:
        return footer
    df = spark.read.parquet(*files)
    if colmap:
        # X157: the files store PHYSICAL names — scan those, but keep
        # the stats doc keyed by LOGICAL names (what prune= and every
        # downstream consumer speak)
        cm = colmap
        from pyspark.sql.types import StructType as _ST

        phys_schema = df.schema
        logical = _ST(
            [
                type(f)(
                    next(
                        (k for k, v in cm.items() if v == f.name), f.name
                    ),
                    f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in phys_schema.fields
            ]
        )
        _check_stats_cols(logical, stats_cols)
    else:
        cm = {}
        _check_stats_cols(df.schema, stats_cols)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in stats_cols:
        q = f"`{_phys(cm, c)}`"
        aggs += [
            F.min(q).alias(f"__mn_{c}"),
            F.max(q).alias(f"__mx_{c}"),
            F.count(q).alias(f"__nn_{c}"),
        ]
    rows = (
        df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
    )

    def _plain(v):
        # JSON-safe scalar: dates/decimals ride as strings with their
        # column type recorded alongside for the reader's comparisons
        if v is None or isinstance(v, (int, float, str, bool)):
            return v
        return str(v)

    def _finite(v) -> bool:
        return not (isinstance(v, float) and not math.isfinite(v))

    out: dict = {}
    for r in rows:
        st = {}
        for c in stats_cols:
            mn = _plain(r[f"__mn_{c}"])
            mx = _plain(r[f"__mx_{c}"])
            if not (_finite(mn) and _finite(mx)):
                # a NaN/Infinity bound would serialize as a bare
                # non-RFC JSON token (json.dumps emits NaN/Infinity),
                # breaking every strict-JSON reader of the log — and
                # NaN bounds are unusable for skipping anyway (Spark's
                # NaN-greatest ordering vs Python's NaN-incomparable).
                # Omit the column's stats for this file;
                # _file_may_match keeps stat-less files (ADVICE r12).
                continue
            st[c] = [mn, mx, int(r["__n"] - r[f"__nn_{c}"])]
        out[r["__f"]] = st
    return out


def commit(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    mode: str = "append",
    expected_base: int | None = None,
    batch_id: int | None = None,
    stream_id: str | None = None,
    stats_cols: list[str] | None = None,
    merge_schema: bool = False,
    user_metadata: str | None = None,
) -> dict:
    """Write ``df`` as the table's next version. ``append`` keeps the
    previous version's files live alongside the new ones;
    ``overwrite`` replaces the live set. Appends to an existing table
    must match its column names and types (nullability is ignored —
    parquet read-back widens it; anything else is refused, no silent
    evolution). ``merge_schema=True`` (X152, Delta's ``mergeSchema``)
    relaxes that to ADDITIVE-ONLY evolution on the append path: the
    write may carry NEW columns (appended to the table schema, forced
    nullable — readers NULL-fill them into pre-evolution files by
    name), but column drops and type changes still raise; readers of
    pre-evolution versions see the old schema untouched (each version
    doc pins its own). ``expected_base`` pins the version the WRITE was
    derived from: the commit publishes to exactly ``expected_base+1``,
    so a concurrent commit in between raises :class:`CommitConflict`
    instead of silently clobbering it (read-modify-write callers MUST
    pass it).

    Concurrency (X148, Delta's conflict matrix): a BLIND append (no
    ``expected_base``) that loses the slot race REBASES automatically
    — concurrent appends write disjoint files, so the loser re-reads
    the new head, re-validates the schema, and retries the one doc
    write at the next slot (data is never rewritten; up to
    ``APPEND_REBASE_RETRIES`` attempts, then CommitConflict).
    Overwrites, pinned-base writes, and creation races still raise
    :class:`CommitConflict` — nothing is corrupted; re-read and
    retry.

    ``stats_cols`` (r12) opts this commit's files into per-file
    (min, max, null_count) statistics, stored in the version doc and
    consumed by :func:`read_version`'s ``prune=`` data skipping. One
    extra distributed pass over the NEW files only; an appended
    version carries the previous files' stats forward, so skipping
    quality is monotone per file regardless of which commits opted
    in (stat-less files are simply never skipped)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append/overwrite, got {mode}")
    prev = current_version(spark, table)
    if expected_base is not None and prev != expected_base:
        raise CommitConflict(
            f"table {table} moved to v{prev} while this write was "
            f"derived from v{expected_base} — re-read and retry"
        )
    prev_files: list[str] = []
    prev_stats: dict = {}
    prev_dv: list = []
    tbl_constraints: dict | None = None
    tbl_generated: dict | None = None
    if prev is not None:
        # X153 generated columns fill BEFORE the schema is derived or
        # checked: a write omitting a generated column gets it
        # computed (Delta's GENERATED ALWAYS AS); a write carrying it
        # is enforced against the expression after the data lands
        pdoc0 = _version_doc(spark, table, prev)
        tbl_generated = pdoc0.get("generated")
        if tbl_generated:
            # the fill CASTS to the column's declared type: SQL
            # literals resolve differently from the writer's own
            # expressions (2.0 parses as DECIMAL, not DOUBLE), and
            # the declared type is the contract — the gate compares
            # through the same cast
            decl = dict(_schema_shape(pdoc0["schema"]))
            filled = False
            for gcol, gexpr in tbl_generated.items():
                if gcol not in df.columns:
                    try:
                        df = df.withColumn(
                            gcol,
                            F.expr(gexpr).cast(decl.get(gcol, "double")),
                        )
                    except Exception as exc:
                        # an overwrite reshaping the table away from
                        # the expression's inputs must get the
                        # module's loud rule, not a raw Catalyst
                        # unresolved-column error (review r15)
                        raise ValueError(
                            f"cannot compute generated column "
                            f"{gcol!r} (GENERATED ALWAYS AS {gexpr}) "
                            "on this write — its inputs are missing "
                            "from the dataframe; supply the column, "
                            "or drop_generated() first if the table "
                            "is moving away from the expression"
                        ) from exc
                    filled = True
            if filled:
                # a filled column lands at the end — restore the
                # table's column order so the ordered shape check
                # sees the write the reader will
                tbl_cols = [n for n, _ in _schema_shape(pdoc0["schema"])]
                if set(df.columns) == set(tbl_cols):
                    df = df.select(*tbl_cols)
    # X158 identity columns: a write OMITTING one gets the next
    # consecutive range allocated (the df is pinned first so the
    # two-pass offset assignment sees stable partitions); a write
    # SUPPLYING one advances the watermark past its values (Delta's
    # GENERATED BY DEFAULT) and refuses NULLs. The updated metadata
    # publishes with this version.
    tbl_identity = (
        dict(pdoc0.get("identity") or {}) if prev is not None else {}
    )
    id_filled = False
    if tbl_identity:
        decl = dict(_schema_shape(pdoc0["schema"]))
        need = [c for c in tbl_identity if c not in df.columns]
        if need:
            id_filled = True
            df = df.localCheckpoint(eager=True)
            for icol in need:
                meta = tbl_identity[icol]
                nxt = meta["high"] + meta["step"]
                df, n_alloc = _fill_identity(
                    df, icol, decl.get(icol, "bigint"), nxt, meta["step"]
                )
                if n_alloc:
                    tbl_identity[icol] = {
                        **meta,
                        "high": nxt + meta["step"] * (n_alloc - 1),
                    }
            tbl_cols = [n for n, _ in _schema_shape(pdoc0["schema"])]
            if set(df.columns) == set(tbl_cols):
                df = df.select(*tbl_cols)
        # freshly-allocated columns need no advance (their watermark
        # moved above); only genuinely supplied ones pay the one agg
        tbl_identity = _advance_identity(tbl_identity, df, exclude=need)
    schema_json = df.schema.json()
    # X157 column mapping: derive this commit's {logical: physical}
    # map and retired-physical set from the base doc, BEFORE the data
    # write — files always store physical names
    base_colmap = dict(_colmap(pdoc0)) if prev is not None else {}
    base_retired = (
        list(pdoc0.get("retired") or []) if prev is not None else []
    )
    # X163: the doc's widened-column record — an OVERWRITE clears it
    # (it replaces every live file at this write's width); an append
    # inherits the base's and adds this write's accepted widenings
    widened_now: dict = {}
    tbl_widened: dict = {}
    colmap = base_colmap
    retired = base_retired
    if prev is not None and mode == "append":
        doc = pdoc0  # one metadata read per commit, not three (r15)
        tbl_widened = dict(doc.get("widened") or {})
        if _schema_shape(doc["schema"]) != _schema_shape(schema_json):
            if not merge_schema:
                raise ValueError(
                    "append schema differs from the table's — pass "
                    "merge_schema=True for additive-only evolution "
                    "(new nullable columns); drops and type changes "
                    "are always refused — overwrite or migrate "
                    "explicitly"
                )
            # X152: evolved schema = table columns (their order) +
            # the write's new columns; non-additive changes raise
            # inside. The data files keep df's own layout — every
            # read path resolves by NAME against the doc schema.
            old_names = {n for n, _ in _schema_shape(doc["schema"])}
            schema_json = _evolve_schema(doc["schema"], schema_json)
            # X163 — the type differences _evolve_schema ACCEPTED are
            # widenings. A df column NARROWER than the (possibly just
            # widened) declared type is cast UP before the write, so
            # this commit's files always store the declared width
            # (Delta's store-assignment upcast — lossless by the
            # _WIDENINGS construction); a df column equal to a
            # freshly-widened declared type is recorded on the doc so
            # readers know older live files promote.
            decl_types = dict(_schema_shape(schema_json))
            for c, t in _schema_shape(df.schema.json()):
                if c in decl_types and t != decl_types[c]:
                    df = df.withColumn(
                        c, F.col(f"`{c}`").cast(decl_types[c])
                    )
            old_types = dict(_schema_shape(doc["schema"]))
            widened_now = {
                c: [old_types[c], t2]
                for c, t2 in decl_types.items()
                if c in old_types and old_types[c] != t2
            }
            tbl_widened.update(widened_now)
            added = [
                n
                for n, _ in _schema_shape(schema_json)
                if n not in old_names
            ]
            if added:
                existing_phys = [
                    _phys(base_colmap, n) for n in old_names
                ]
                colmap = {
                    **base_colmap,
                    **_assign_physical(added, existing_phys, retired),
                }
        prev_files = doc["files"]
        prev_stats = doc.get("stats", {})
        prev_dv = doc.get("dv") or []
        tbl_constraints = doc.get("constraints")
    elif prev is not None:
        tbl_constraints = pdoc0.get("constraints")
        # overwrite (X157): columns the table already has KEEP their
        # physical names (a rename stays durable across overwrites);
        # columns the overwrite drops retire theirs (conservative —
        # old files survive in old versions' live sets via restore/
        # clone, and a later re-add must not resurrect their data);
        # genuinely new columns get collision-checked physicals
        base_names = {n for n, _ in _schema_shape(pdoc0["schema"])}
        kept = [c for c in df.columns if c in base_names]
        dropped = sorted(base_names - set(df.columns))
        fresh = [c for c in df.columns if c not in base_names]
        # case-variant guard (ADVICE r16): the append path's
        # _evolve_schema refuses a write whose new columns differ
        # only by case from existing ones or from each other —
        # an overwrite carrying both 'K' and 'k' (or 'K' next to a
        # kept 'k') must refuse the same way, not let
        # _assign_physical silently uuid-suffix the second variant
        # into a schema whose case-insensitive reads are ambiguous
        kept_lower = {c.lower() for c in kept}
        variants = [c for c in fresh if c.lower() in kept_lower]
        fresh_lower: set = set()
        for c in fresh:
            if c.lower() in fresh_lower:
                variants.append(c)
            fresh_lower.add(c.lower())
        if variants:
            raise ValueError(
                f"overwrite refuses case-variant columns {variants} — "
                "they differ only by case from this write's other "
                "columns or its kept table columns, and "
                "case-insensitive parquet resolution would make every "
                "read ambiguous; rename the write's columns"
            )
        colmap = {
            c: base_colmap[c] for c in kept if c in base_colmap
        }
        retired = sorted(
            set(base_retired)
            | {_phys(base_colmap, c) for c in dropped}
        )
        if fresh:
            existing_phys = [_phys(base_colmap, c) for c in kept]
            colmap = {
                **colmap,
                **_assign_physical(fresh, existing_phys, retired),
            }
    if stats_cols:
        # fail BEFORE the data write — a typo must not cost the commit
        _check_stats_cols(df.schema, stats_cols)
    data_dir = f"{table}/data/{uuid.uuid4().hex}"
    # X165: the persisted bloom.cols policy stamps footer Bloom
    # filters on every write — metadata-driven, zero coordination
    bloom_opts = _bloom_write_options(
        pdoc0.get("properties") if prev is not None else None,
        colmap, schema_json,
    )
    _to_physical(df, colmap).write.options(**bloom_opts).parquet(data_dir)
    new_files = _list_parquet(spark, data_dir)
    # X149: persisted CHECK constraints gate every write path — new
    # rows only (restore/optimize never re-validate: their rows passed
    # at write time, Delta's rule); a raise leaves the data dir
    # unpublished, vacuumed like any loser's dir
    _enforce_constraints(
        spark, tbl_constraints, new_files, table, mode,
        schema_json=schema_json, colmap=colmap,
    )
    _enforce_generated(
        spark, tbl_generated, new_files, table, mode,
        schema_json=schema_json, colmap=colmap,
    )
    new_stats: dict = {}
    if stats_cols:
        new_stats = _remap_stats(
            _collect_file_stats(spark, new_files, stats_cols, colmap),
            new_files,
        )
    stats = dict(prev_stats)
    stats.update(new_stats)
    version = 0 if prev is None else prev + 1
    for attempt in range(APPEND_REBASE_RETRIES):
        try:
            return _publish(
                spark, table, version, prev_files + new_files, mode,
                schema_json, batch_id=batch_id, stream_id=stream_id,
                stats=stats, dv=prev_dv or None,
                constraints=tbl_constraints,
                user_metadata=user_metadata,
                colmap=colmap or None, retired=retired or None,
                identity=tbl_identity or None,
                widened=tbl_widened or None,
            )
        except CommitConflict:
            # X148 — Delta's blind-append conflict resolution: two
            # concurrent APPENDS touch disjoint files, so the loser
            # need not fail — its data dir is already written; only
            # the doc publish lost the slot. Rebase: re-read the new
            # head, re-validate the schema against it (an interleaved
            # schema-changing overwrite must still refuse — no silent
            # evolution, concurrent or not), carry ITS files/stats/dv
            # forward, and retry the doc write at the next slot. No
            # data is rewritten or re-scanned. NOT applied when:
            #   * mode != append (a losing overwrite would silently
            #     clobber the interleaved writer's data);
            #   * expected_base was passed (the caller's WRITE was
            #     derived from that base — read-modify-write must
            #     surface the race, exactly why the pin exists);
            #   * the table did not exist when this commit started
            #     (two blind CREATEs racing is a deployment bug a
            #     silent merge would hide).
            if mode != "append" or expected_base is not None or prev is None:
                raise
            # back off BEFORE re-reading the head (jittered, grows
            # per attempt) — the retry must target the FRESH head, so
            # the sleep has to precede the read, never follow it
            _rebase_backoff(attempt)
            newprev = current_version(spark, table)
            if newprev is None or newprev < version:
                raise  # not a slot race we can reason about
            if stream_id is not None and batch_id is not None:
                # exactly-once guard (review r14): if the interleaved
                # winner IS a concurrent replay of this very
                # (stream_id, batch_id) — two drivers racing one
                # checkpoint — rebasing would commit the batch TWICE.
                # Surface the conflict instead; the stream's retry
                # then no-ops via last_committed_batch.
                for vv in range(version, newprev + 1):
                    d = _version_doc(spark, table, vv)
                    if (
                        d.get("stream_id") == stream_id
                        and d.get("batch_id") == batch_id
                    ):
                        raise CommitConflict(
                            f"batch {batch_id} of stream "
                            f"{stream_id!r} was committed "
                            f"concurrently at v{vv} of {table} — "
                            "duplicate replay, not rebased"
                        ) from None
            doc = _version_doc(spark, table, newprev)
            if id_filled and (doc.get("identity") or {}) != (
                pdoc0.get("identity") or {}
            ):
                # X158: our allocated range came from the BASE
                # watermark; an interleaved writer that moved it may
                # hold the same values — the data would collide, so
                # this race can never rebase (Delta's identity
                # conflict). A supplied-values write is safe: its
                # watermark advance below re-derives from the head.
                raise CommitConflict(
                    f"append to {table} raced an identity allocation — "
                    "the generated values may collide; re-run the "
                    "write (a fresh allocation reads the new watermark)"
                ) from None
            if tbl_identity and not id_filled:
                # re-advance from the interleaved head's watermark so
                # the published metadata never retreats
                tbl_identity = _advance_identity(
                    dict(doc.get("identity") or tbl_identity), df
                )
            if (
                _colmap(doc) != base_colmap
                or (doc.get("retired") or []) != base_retired
            ):
                # X157: an interleaved rename/drop — OUR data files
                # were written under the BASE mapping, and silently
                # rebasing onto the new one could land rows under a
                # stale (even retired) physical name. Surface the race.
                raise CommitConflict(
                    f"append to {table} raced a column-mapping change "
                    "(rename/drop, or an addition that remapped) — "
                    "re-derive the write against the new schema"
                ) from None
            if _schema_shape(doc["schema"]) != _schema_shape(schema_json):
                if not merge_schema:
                    raise ValueError(
                        f"append to {table} raced a schema-changing "
                        "commit — re-derive the write against the new "
                        "schema (or opt into additive evolution with "
                        "merge_schema=True)"
                    ) from None
                # X152: re-evolve OUR columns onto the interleaved
                # winner's schema (both writers may have evolved —
                # the union of additive changes is itself additive);
                # a non-additive interleave still raises inside. Our
                # own added columns keep the physicals assigned above;
                # the winner's additions ride ITS doc colmap (already
                # equal to ours on the shared base — checked above) —
                # but ITS new columns' mappings must be carried too.
                schema_json = _evolve_schema(
                    doc["schema"], df.schema.json()
                )
                colmap = {**_colmap(doc), **colmap}
            # X163: the winner's widened record merges with ours (our
            # files were written at the BASE declared width — if the
            # winner widened past it they promote like any older file,
            # and the winner's own record already covers that column)
            tbl_widened = {**(doc.get("widened") or {}), **widened_now}
            prev_files = doc["files"]
            stats = dict(doc.get("stats", {}))
            stats.update(new_stats)
            prev_dv = doc.get("dv") or []
            # an interleaved set_constraint means OUR rows were never
            # checked against the new set — re-enforce before retrying
            # (change-sized; X149)
            if doc.get("constraints") != tbl_constraints:
                tbl_constraints = doc.get("constraints")
                _enforce_constraints(
                    spark, tbl_constraints, new_files, table, mode,
                    schema_json=schema_json, colmap=colmap,
                )
            if doc.get("generated") != tbl_generated:
                # an interleaved set_generated: our files were never
                # checked against (or filled from) the new exprs —
                # enforce; a column our files miss entirely fails the
                # schema check above first (X153)
                tbl_generated = doc.get("generated")
                _enforce_generated(
                    spark, tbl_generated, new_files, table, mode,
                    schema_json=schema_json, colmap=colmap,
                )
            version = newprev + 1
    raise CommitConflict(
        f"append to {table} lost {APPEND_REBASE_RETRIES} consecutive "
        "slot races — pathological contention; retry with backoff"
    )


#: how many consecutive lost slot races a BLIND append re-bases
#: through before giving up (X148) — each retry is a few doc reads +
#: one doc write, so the cap bounds metadata I/O under pathological
#: contention, not data work. 20 with the jittered backoff below
#: makes an N-writer herd converge (p(all-lose) ~ 0.5^20 per writer
#: in the 5-writer soak) while worst-case added latency stays ~15 s;
#: Delta's commit loop allows millions of attempts for the same
#: reason — the retry is cheap, surfacing a spurious conflict is not
APPEND_REBASE_RETRIES = 20

#: base of the jittered exponential backoff between lost-slot retries
#: (r17, found by a 5-writer concurrency soak: zero-backoff retries
#: under N-way contention can lose all APPEND_REBASE_RETRIES races in
#: a row even though every writer would fit — the classic thundering
#: herd; Delta clients back off the same way). Uniform jitter in
#: (0, base·2^attempt], capped at 2^4.
REBASE_BACKOFF_BASE = 0.05


def _rebase_backoff(attempt: int) -> None:
    import random as _random

    time.sleep(
        _random.uniform(
            0.0, REBASE_BACKOFF_BASE * (2 ** min(attempt, 4))
        )
    )


def _publish_rebasing_over_appends(
    spark: SparkSession, table: str, base: int, doc: dict, publish_at, op: str
):
    """X162 — shared row-level-op rebase (Delta's WriteSerializable
    conflict matrix for DELETE/MERGE vs blind appends): a deletion
    vector targets positions in the BASE version's files, and a blind
    append only ADDS files, so an interleaved append can never
    invalidate the vector — re-publish on the new head instead of
    raising. Semantically this serializes the delete/merge BEFORE the
    appends that beat it to the slot (appended rows matching the
    predicate/keys survive — the phantom-row reordering
    WriteSerializable permits; Delta's default isolation makes the
    same trade for blind appends). Anything else interleaved still
    refuses: another delete/merge (the dv changed — concurrent
    vectors were matched against different live views), an
    overwrite/optimize/restore (the base files the vector points into
    were replaced), or a rename/drop ``schema_change`` (the X148
    refusal precedent).

    ``publish_at(head, hdoc)`` performs the actual publish at
    ``head + 1`` from the head's doc and returns the op's report."""
    head, base_dv = base, doc.get("dv") or []
    for attempt in range(APPEND_REBASE_RETRIES):
        try:
            hdoc = doc if head == base else _version_doc(spark, table, head)
            return publish_at(head, hdoc)
        except CommitConflict:
            # back off BEFORE re-reading the head — sleeping after
            # would hand the retry a stale target under steady traffic
            _rebase_backoff(attempt)
            nh = current_version(spark, table)
            if nh is None or nh <= head:
                raise
            for v in range(head + 1, nh + 1):
                d = _version_doc(spark, table, v)
                if (
                    d["mode"] != "append"
                    or (d.get("dv") or []) != base_dv
                    or d.get("schema_change")
                ):
                    raise CommitConflict(
                        f"table {table} moved past v{base} during {op} "
                        f"with a non-append change (v{v} is "
                        f"{d['mode']!r}"
                        + (
                            " + schema_change"
                            if d.get("schema_change")
                            else ""
                        )
                        + f") — the {op}'s positions are stale; re-run "
                        "on the new version"
                    ) from None
            head = nh
    raise CommitConflict(
        f"{op} of {table} lost {APPEND_REBASE_RETRIES} consecutive "
        "slot races — pathological contention; retry with backoff"
    )


_PRUNE_OPS = ("=", "<", "<=", ">", ">=")


def _file_may_match(st: dict, col: str, op: str, val) -> bool:
    """False ONLY when the file's [min, max] range for ``col``
    provably excludes every row satisfying ``col op val``. Missing
    stats, a NULL bound (all-null file), or a cross-type comparison
    keep the file — skipping must never be the component that loses
    rows."""
    if st is None or col not in st:
        return True
    mn, mx, _nulls = st[col]
    if mn is None or mx is None:
        # an all-null file: no non-null value can satisfy any
        # comparison (SQL comparisons with NULL are never true)
        return False
    if any(
        isinstance(x, float) and math.isnan(x) for x in (mn, mx, val)
    ):
        # a NaN bound poisons every Python comparison below to False
        # (silent row loss), and Spark's own NaN ordering (greatest,
        # NaN = NaN) differs from Python's — stats are unusable for
        # this file/predicate, keep it (self-review r12)
        return True
    try:
        if op == "=":
            return mn <= val <= mx
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
        if op == ">":
            return mx > val
        if op == ">=":
            return mx >= val
    except TypeError:
        return True  # cross-type comparison — keep, never guess
    return True


def version_at(spark: SparkSession, table: str, ts) -> int:
    """X145 — resolve a wall-clock instant to a version (Delta's
    ``TIMESTAMP AS OF``): the version that was CURRENT at ``ts``,
    i.e. the greatest version with ``committed_at <= ts``. ``ts``
    accepts epoch seconds (int/float), a ``datetime`` (naive = local
    time, the Python convention), or an ISO-8601 string.

    Resolution scans version docs NEWEST-first and stops at the first
    commit at-or-before ``ts`` — O(versions committed after ts), the
    recent-timestamp common case, never a full log walk for "the
    table as of an hour ago" on a long-lived table. A ``ts`` before
    the first commit raises (Delta's earliest-version error); a
    ``ts`` in the future resolves to the current version.

    ``committed_at`` stamps are MONOTONE per table for versions
    published at or after the r15 clamp (Delta's in-commit-timestamp
    idea): every publish clamps its stamp above the predecessor's, so
    cross-writer clock skew cannot reorder the log's timeline and
    this resolution is exact over such logs. For PRE-EXISTING logs
    (docs written by older writers, where skew may have produced
    non-monotone stamps) the newest-first first-match rule is the
    determinism backstop, and resolution there remains a heuristic
    (ADVICE r15)."""
    if hasattr(ts, "timestamp"):  # datetime
        ts = ts.timestamp()
    elif isinstance(ts, str):
        from datetime import datetime

        ts = datetime.fromisoformat(ts).timestamp()
    ts = float(ts)
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    for v in range(cur, -1, -1):
        if _version_doc(spark, table, v)["committed_at"] <= ts:
            return v
    raise ValueError(
        f"timestamp {ts} is before {table}'s first commit "
        f"(v0 committed_at="
        f"{_version_doc(spark, table, 0)['committed_at']})"
    )


def read_version(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: list[tuple] | None = None,
    as_of=None,
) -> DataFrame:
    """The table at ``version`` (default: latest) — time travel is
    just resolving an older file list. ``as_of`` (X145, mutually
    exclusive with ``version``) time-travels by TIMESTAMP via
    :func:`version_at`. An EMPTY version (overwrite of
    an empty frame) returns an empty DataFrame with the committed
    schema.

    ``prune`` (r12 data skipping): a CONJUNCTION of simple predicates
    ``(col, op, literal)`` with op in ``= < <= > >=``, evaluated
    against the per-file statistics ``commit(stats_cols=...)``
    recorded — files whose [min, max] range provably excludes every
    matching row are not read at all (the Delta/Iceberg file-skipping
    idea; at 100 TB this is the difference between scanning a
    partition's worth of files and the whole table). Files without
    stats for a column are always kept, so skipping NEVER loses rows.
    The predicate is an IO hint only — apply the real ``filter`` on
    the returned frame (parquet row-group pushdown then finishes the
    job inside each kept file)."""
    if as_of is not None and version is not None:
        raise ValueError("pass version= OR as_of=, not both")
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    if as_of is not None:
        version = version_at(spark, table, as_of)
    v = cur if version is None else version
    if not 0 <= v <= cur:
        raise ValueError(f"version {v} not in [0, {cur}] for {table}")
    doc = _version_doc(spark, table, v)
    files = doc["files"]
    if prune:
        for p in prune:
            if len(p) != 3 or p[1] not in _PRUNE_OPS:
                raise ValueError(
                    f"prune predicate must be (col, op, value) with op "
                    f"in {_PRUNE_OPS}, got {p!r}"
                )
        stats = doc.get("stats", {})
        files = [
            f
            for f in files
            if all(
                _file_may_match(stats.get(f), c, op, val)
                for (c, op, val) in prune
            )
        ]
    if not files:
        from pyspark.sql.types import StructType

        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(doc["schema"]))
        )
    # read through the doc's declared schema — identical to footer
    # inference for uniform tables, NULL-fills per file after
    # additive evolution (X152); colmap restores logical names after
    # a column rename (X157)
    out = _read_files(spark, files, doc["schema"], _colmap(doc))
    dv = doc.get("dv") or []
    if dv:
        # deletion vectors (r12, the Delta DV / Iceberg positional-
        # delete idea): rows named by (file_path, row_index) are
        # subtracted via one anti-join — usually a broadcast (DVs are
        # small by construction; AQE decides). Per-file stats remain
        # SAFE upper bounds after deletes (pruning never resurrects a
        # deleted row — the anti-join runs on whatever files survive).
        out = _apply_dv(spark, out, dv)
    return out


def _dv_cols(df: DataFrame):
    clash = {"__dv_fp", "__dv_ri"} & set(df.columns)
    if clash:
        raise ValueError(
            f"columns {sorted(clash)} collide with the deletion-vector "
            "internals — rename them"
        )
    if "_metadata" in df.columns:
        # a DATA column named _metadata SHADOWS Spark's file-metadata
        # pseudo-column — positions would silently come from user data
        # and the anti-join would delete wrong rows (self-review r12)
        raise ValueError(
            "a data column named '_metadata' shadows the parquet "
            "metadata pseudo-column deletion vectors depend on — "
            "rename it"
        )
    return (
        F.col("_metadata.file_path").alias("__dv_fp"),
        F.col("_metadata.row_index").alias("__dv_ri"),
    )


def _dv_frame(spark: SparkSession, dv: list[str]) -> DataFrame:
    """The (deduplicated-name) deletion-vector frame — ONE place owns
    the vector schema/join-key naming (self-review r12)."""
    return spark.read.parquet(*dv).select(
        F.col("file_path").alias("__dv_fp"),
        F.col("row_index").alias("__dv_ri"),
    )


def _apply_dv(spark: SparkSession, df: DataFrame, dv: list[str]) -> DataFrame:
    fp, ri = _dv_cols(df)
    src = df.select("*", fp, ri)
    return src.join(_dv_frame(spark, dv), ["__dv_fp", "__dv_ri"], "left_anti").drop(
        "__dv_fp", "__dv_ri"
    )


def delete_rows(spark: SparkSession, table: str, predicate) -> dict:
    """Row-level DELETE without rewriting a single data file (the
    Delta deletion-vector / Iceberg positional-delete idea): matching
    rows are named by their immutable (file_path, row_index) position
    — Spark's parquet ``_metadata`` columns — written as a DELETION
    VECTOR parquet set under ``<table>/dv/`` and attached to a new
    version (mode ``delete``, same files). Readers subtract them with
    one anti-join; :func:`optimize` MATERIALIZES them (it reads
    through :func:`read_version`), after which the rewrite carries no
    vectors. At 100 TB this is the difference between flipping a few
    thousand positions and rewriting every file a scattered delete
    touches.

    The match runs against the CURRENT version's view (existing
    vectors already applied, so re-deleting is a no-op), entirely
    distributed — matched positions go straight to parquet, never
    through the driver. A no-match delete publishes nothing. Race
    safety (X162): a slot race lost to BLIND APPENDS rebases onto the
    new head (the vector targets base files; appends only add — see
    :func:`_publish_rebasing_over_appends` for the WriteSerializable
    phantom-row trade); any other interleaved change raises
    :class:`CommitConflict` (the vector dir is an invisible orphan).
    Returns ``{version, n_deleted}``."""
    base = current_version(spark, table)
    if base is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, base)
    if not doc["files"]:
        return {"version": base, "n_deleted": 0}
    new_dv, n = _write_deletion_vector(
        spark, table, doc, lambda live: live.where(predicate)
    )
    if n == 0:
        return {"version": base, "n_deleted": 0}

    # X162: a lost slot race against blind appends rebases (the
    # vector targets base files, appends only add) — see
    # _publish_rebasing_over_appends for the isolation trade
    def _pub(head: int, hdoc: dict) -> dict:
        _publish(
            spark, table, head + 1, hdoc["files"], "delete",
            hdoc["schema"],
            stats=hdoc.get("stats") or None,
            dv=(hdoc.get("dv") or []) + new_dv,
            constraints=hdoc.get("constraints"),
        )
        return {"version": head + 1, "n_deleted": int(n)}

    return _publish_rebasing_over_appends(
        spark, table, base, doc, _pub, "delete"
    )


def _live_view(spark: SparkSession, doc: dict) -> DataFrame:
    """The version's live rows with their immutable (__dv_fp,
    __dv_ri) positions attached — existing deletion vectors already
    anti-joined away (shared by :func:`delete_rows` /
    :func:`merge_rows`; review r14 de-duplication)."""
    raw = _read_files(spark, doc["files"], doc["schema"], _colmap(doc))
    fp, ri = _dv_cols(raw)
    live = raw.select("*", fp, ri)
    old_dv = doc.get("dv") or []
    if old_dv:
        live = live.join(
            _dv_frame(spark, old_dv), ["__dv_fp", "__dv_ri"], "left_anti"
        )
    return live


def _write_deletion_vector(
    spark: SparkSession, table: str, doc: dict, match
) -> tuple[list[str], int]:
    """Write a deletion vector naming the positions ``match(live)``
    selects from the version's live view — the one DV-producing
    pipeline behind :func:`delete_rows` (predicate match) and
    :func:`merge_rows` (key semi-join match). Returns
    ``(vector_files, n_positions)``; an empty match cleans up its dir
    and returns ``([], 0)``."""
    matched = match(_live_view(spark, doc)).select(
        F.col("__dv_fp").alias("file_path"),
        F.col("__dv_ri").alias("row_index"),
    )
    dv_dir = f"{table}/dv/{uuid.uuid4().hex}"
    # r17: the write job itself reports the position count through an
    # Observation (CollectMetrics rides the write plan) — the previous
    # read-back count() re-scanned the fresh vector files as a second
    # job per DV write
    from pyspark.sql import Observation

    obs = Observation()
    matched.observe(obs, F.count(F.lit(1)).alias("__n")).write.parquet(
        dv_dir
    )
    n = int(obs.get["__n"])
    if n == 0:
        fs, _ = _fs(spark, table)
        fs.delete(_path(spark, dv_dir), True)
        return [], 0
    return _list_parquet(spark, dv_dir), n


def merge_rows(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    stats_cols: list[str] | None = None,
    user_metadata: str | None = None,
) -> dict:
    """X144 — ``MERGE INTO`` with deletion vectors (Delta's DV-backed
    MERGE / Iceberg's merge-on-read upsert): target rows whose key
    tuple appears in ``source`` are retracted by POSITION (one new
    deletion vector — no data file is rewritten), and the source rows
    to keep are appended as new files; both land in ONE published
    version (mode ``merge``), so readers never see a half-applied
    upsert. At 100 TB a scattered keyed upsert flips a few thousand
    DV positions + writes the change-sized batch, instead of
    rewriting every touched file (copy-on-write) or the whole table
    (overwrite).

    Clause semantics (the Delta MERGE defaults):

    * ``when_matched='update'``  — matched target rows are replaced by
      their source rows (retract preimage + append postimage); a
      duplicate-keyed TARGET gets each of its matched rows updated —
      one postimage per matched target row, the Delta multiplicity;
      ``'delete'`` — matched target rows are removed, their source
      rows discarded.
    * ``when_not_matched='insert'`` — unmatched source rows are
      appended; ``'ignore'`` — discarded.

    Unmatched TARGET rows are always untouched. Duplicate key tuples
    in ``source`` raise (two source rows updating one target row is
    non-deterministic — the Delta multiple-source-match error);
    NULL-keyed source rows follow SQL MERGE non-match semantics (NULL
    never equals anything): inserted under ``'insert'``, dropped under
    ``'ignore'``. The source schema must match the table's (name/type
    shape, like append — no silent evolution).

    Race safety (X162): the publish targets base+1 (CREATE-exclusive
    slot); a race lost to BLIND APPENDS rebases onto the new head
    (the retraction vector targets base files; appends only add —
    see :func:`_publish_rebasing_over_appends` for the
    WriteSerializable phantom-row trade); any other interleaved
    change raises :class:`CommitConflict` — the merge's data/vector
    dirs are invisible orphans, vacuumable. Returns ``{version,
    n_deleted, n_inserted}`` (a no-op merge publishes nothing)."""
    if when_matched not in ("update", "delete"):
        raise ValueError(
            f"when_matched must be update/delete, got {when_matched!r}"
        )
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(
            f"when_not_matched must be insert/ignore, got "
            f"{when_not_matched!r}"
        )
    if not keys:
        raise ValueError("merge_rows needs at least one key column")
    base = current_version(spark, table)
    if base is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, base)
    if _schema_shape(doc["schema"]) != _schema_shape(source.schema.json()):
        raise ValueError(
            "merge source schema differs from the table's — merge "
            "never evolves the schema; evolve first with an "
            "additive commit(merge_schema=True) append (X152)"
        )
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise ValueError(f"key columns not in source: {missing}")
    if stats_cols:
        # fail BEFORE any job or write — a typo must not cost the
        # distributed match (the commit() rule, self-review r12);
        # source shape == table shape was checked just above
        _check_stats_cols(source.schema, stats_cols)
    # Pin the source to ONE evaluation: the duplicate guard, the
    # retraction vector, and the appended files must all see the SAME
    # rows — a non-deterministic source (limit/sample/rand) evaluated
    # per job would retract a target row whose postimage never lands
    # (review r14). Change-sized by contract, so the materialized
    # blocks are small; this also stops re-computing the source
    # lineage for every downstream job.
    source = source.localCheckpoint(eager=True)
    # Delta's multiple-source-match error: two source rows updating
    # one target row is non-deterministic. One small agg over the
    # change-sized source (NULL keys exempt — they never match; the
    # reserved alias keeps a key column literally named 'count'
    # unambiguous — review r14). r17: the duplicate probe and the
    # emptiness probe are ONE job — max per-key multiplicity (non-null
    # keys only) and the total row count fall out of the same
    # two-level aggregation; the offending key tuple is only looked up
    # on the error path, where cost is irrelevant.
    _nonnull = F.lit(True)
    for _k in keys:
        _nonnull = _nonnull & F.col(f"`{_k}`").isNotNull()
    probe = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__mg_cnt"))
        .agg(
            F.sum("__mg_cnt").alias("__mg_n"),
            F.max(F.when(_nonnull, F.col("__mg_cnt"))).alias("__mg_mx"),
        )
        .collect()[0]
    )
    if (probe["__mg_mx"] or 0) > 1:
        dup = (
            source.select(*keys)
            .na.drop(subset=keys)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__mg_cnt"))
            .where(F.col("__mg_cnt") > 1)
            .limit(1)
            .collect()
        )
        raise ValueError(
            f"duplicate source key tuple {tuple(dup[0][k] for k in keys)} "
            "— MERGE with multiple source matches per target row is "
            "non-deterministic; dedupe the source first"
        )
    if not (probe["__mg_n"] or 0):
        return {"version": base, "n_deleted": 0, "n_inserted": 0}

    src_keys = source.select(*keys).na.drop(subset=keys).distinct()

    # retraction vector: positions of live target rows matched by key
    # — against the CURRENT view (existing vectors pre-applied), the
    # shared delete_rows pipeline with a semi-join match. No broadcast
    # hint: src_keys is usually tiny but unbounded (a 200M-key
    # backfill must not OOM the driver) — AQE picks broadcast when it
    # actually fits (review r14).
    new_dv: list[str] = []
    n_del = 0
    # (the vector write itself is scheduled below, concurrent with the
    # two append-side writes — all three read the same immutable base)

    # rows to append. Delta MERGE multiplicity (review r14): a
    # duplicate-keyed TARGET gets EACH of its matched rows updated, so
    # 'update' postimages are one source row PER LIVE MATCHED TARGET
    # ROW — the inner join against the live key multiset — not one per
    # source row. Equi-join NULL semantics give NULL-keyed source rows
    # the documented non-match treatment for free (inner/semi drop
    # them, anti keeps them).
    if doc["files"]:
        live_keys = _live_view(spark, doc).select(*keys)
    else:
        live_keys = source.select(*keys).limit(0)
    # postimages and fresh inserts land in SEPARATE data dirs (r15):
    # the version doc records which files are update postimages
    # (Delta's CDF change types) rather than bare inserts. Both writes stay
    # change-sized; a side that contributes nothing writes nothing.
    cm = _colmap(doc)  # X157: appended files store physical names
    bloom_opts = _bloom_write_options(
        doc.get("properties"), cm, doc["schema"]
    )  # X165: merge's appended files honor the bloom policy too

    def _write_side(side: DataFrame) -> tuple[list[str], int]:
        # r17: write FIRST, then clean an empty dir up — the
        # `_write_deletion_vector` pattern. The previous `isEmpty()`
        # pre-check executed the live-view join TWICE per contributing
        # side (once for the probe, once for the write); at 100 TB
        # that is two full target-key scans instead of one. The row
        # count rides the write job itself via an Observation, so no
        # read-back count() job either. Observable behavior is
        # unchanged: a side that contributes nothing records nothing.
        from pyspark.sql import Observation

        side_dir = f"{table}/data/{uuid.uuid4().hex}"
        obs = Observation()
        side = side.observe(obs, F.count(F.lit(1)).alias("__n"))
        _to_physical(side, cm).write.options(**bloom_opts).parquet(
            side_dir
        )
        n = int(obs.get["__n"])
        if n == 0:
            fs, _ = _fs(spark, table)
            fs.delete(_path(spark, side_dir), True)
            return [], 0
        return _list_parquet(spark, side_dir), n

    # The three change-sized writes — retraction vector, update
    # postimages, fresh inserts — are independent jobs over the same
    # immutable base version: schedule them concurrently (guide §2.6
    # overlap; the sufficient-stats pool precedent) so each job's
    # scheduling tail back-fills the others instead of serializing
    # three target-side scans end to end.
    from concurrent.futures import ThreadPoolExecutor

    post_files: list[str] = []
    ins_files: list[str] = []
    n_post = n_insd = 0
    with ThreadPoolExecutor(max_workers=3) as _pool:
        f_dv = (
            _pool.submit(
                _write_deletion_vector, spark, table, doc,
                lambda live: live.join(src_keys, keys, "left_semi"),
            )
            if doc["files"]
            else None
        )
        f_post = (
            _pool.submit(
                _write_side,
                source.join(live_keys, keys, "inner").select(
                    *source.columns
                ),
            )
            if when_matched == "update"
            else None
        )
        f_ins = (
            _pool.submit(
                _write_side,
                source.join(live_keys.distinct(), keys, "left_anti"),
            )
            if when_not_matched == "insert"
            else None
        )
        if f_dv is not None:
            new_dv, n_del = f_dv.result()
        if f_post is not None:
            post_files, n_post = f_post.result()
        if f_ins is not None:
            ins_files, n_insd = f_ins.result()

    new_files: list[str] = post_files + ins_files
    n_ins = n_post + n_insd
    # X149: a merge's appended postimage/insert rows pass the same
    # persisted CHECK gate as plain commits (retractions need none);
    # X153 generated columns are enforced the same way (the source
    # schema matches the table's, so the column is always supplied)
    _enforce_constraints(
        spark, doc.get("constraints"), new_files, table, "merge",
        schema_json=doc["schema"], colmap=cm,
    )
    _enforce_generated(
        spark, doc.get("generated"), new_files, table, "merge",
        schema_json=doc["schema"], colmap=cm,
    )

    if not new_dv and not new_files:
        return {"version": base, "n_deleted": 0, "n_inserted": 0}

    fresh_stats = (
        _remap_stats(
            _collect_file_stats(spark, new_files, stats_cols, cm),
            new_files,
        )
        if stats_cols and new_files
        else {}
    )

    # X162: a lost slot race against blind appends rebases — the
    # retraction vector targets base files, appends only add files;
    # the publish re-derives stats/identity from the HEAD doc so an
    # interleaved append's files keep their stats and watermark
    def _pub(head: int, hdoc: dict) -> dict:
        stats = {**(hdoc.get("stats") or {}), **fresh_stats}
        # X158: the source shape matches the table's, so identity
        # columns are always SUPPLIED here — refuse NULLs, advance
        # the head's watermark
        identity = dict(hdoc.get("identity") or {})
        if identity and new_files:
            identity = _advance_identity(identity, source)
        _publish(
            spark, table, head + 1, hdoc["files"] + new_files, "merge",
            hdoc["schema"], stats=stats or None,
            dv=((hdoc.get("dv") or []) + new_dv) or None,
            constraints=hdoc.get("constraints"),
            merge_meta={
                "when_matched": when_matched,
                "files_post": post_files,
            },
            user_metadata=user_metadata,
            identity=identity or None,
        )
        return {
            "version": head + 1,
            "n_deleted": int(n_del),
            "n_inserted": int(n_ins),
        }

    return _publish_rebasing_over_appends(
        spark, table, base, doc, _pub, "merge"
    )


#: versions between automatic checkpoint docs (X139 — the Delta
#: _last_checkpoint idea); every CHECKPOINT_EVERY-th _publish also
#: writes _log/_checkpoint_v{V}.json so log-walking readers go
#: O(versions since checkpoint) instead of O(versions)
CHECKPOINT_EVERY = 10

#: how many trailing history rows a checkpoint doc embeds. The
#: default (1000, VERDICT r14 ask #7) caps both the per-checkpoint
#: WRITE cost and the doc SIZE on a long-lived table — an unbounded
#: embed (None) re-creates ADVICE r13's quadratic cumulative metadata
#: growth once a table accumulates tens of thousands of versions.
#: Consumers degrade transparently, never wrongly: :func:`history`
#: doc-walks the versions below the retained window. Watermarks are
#: NOT bounded — the per-stream map is O(streams), already compact.
#: Set to None for the old unbounded embed.
CHECKPOINT_HISTORY: int | None = 1000


def _version_delta(
    version: int,
    mode: str,
    files: list[str],
    dv: list[str],
    prev_files: set[str],
    prev_dv: set[str],
) -> tuple[list[str], list[str], list[str]]:
    """(new_files, dv_new, snapshot_dv) for one committed version — the
    per-version delta a checkpoint's history rows record.

    ``new_files``: the data files the version added — for ``append``
    and ``merge`` the files not in the previous version; for
    ``overwrite`` the WHOLE list, never a prev-diff (``restore()``
    re-publishes OLD paths, so a diff would be empty); for ``delete``
    none (a deletion-vector version keeps the same live files).
    ``dv_new``: the deletion-vector files first published at this
    version (``delete`` and ``merge``). ``snapshot_dv``: the vectors a
    snapshot of this version must mask — non-empty only for v0 or an
    overwrite that carries vectors (clone()/restore() publishes).
    """
    if mode == "delete":
        new_files: list[str] = []
        dv_new = [f for f in dv if f not in prev_dv]
    elif mode == "overwrite":
        new_files = list(files)
        dv_new = []
    elif mode == "merge":
        # both deltas: appended postimage/insert files AND the new
        # vectors naming the matched preimages (matched against the
        # pre-merge view, so the vectors never name this version's
        # own new files)
        new_files = [f for f in files if f not in prev_files]
        dv_new = [f for f in dv if f not in prev_dv]
    else:
        new_files = [f for f in files if f not in prev_files]
        dv_new = []
    snapshot_dv = list(dv) if dv and (version == 0 or mode == "overwrite") else []
    return new_files, dv_new, snapshot_dv


def _checkpoint_path(table: str, version: int) -> str:
    return f"{table}/_log/_checkpoint_v{version}.json"


def _shape_rows(schema_json: str) -> list:
    """Per-field [name, simpleString-type] rows for checkpoint history
    — the SAME canonicalization as the writer's _schema_shape contract
    (nullability ignored at EVERY nesting level: a json-level type
    compare embeds nested nullability that parquet read-back widens —
    review r13). pyspark.sql.types is pure Python, no JVM needed."""
    return [list(pair) for pair in _schema_shape(schema_json)]


def latest_checkpoint_version(
    spark: SparkSession, table: str, max_version: int | None = None
) -> int | None:
    """Greatest checkpointed version (``<= max_version`` if given),
    from one _log/ directory listing — deliberately NO pointer file
    (Delta's _last_checkpoint needs overwrite semantics this format's
    create-exclusive contract avoids)."""
    cks = _log_maxima(spark, table)[1]
    if max_version is not None:
        cks = [n for n in cks if n <= max_version]
    return cks[-1] if cks else None


def write_checkpoint(
    spark: SparkSession, table: str, version: int | None = None
) -> dict:
    """X139 — checkpoint doc at ``version`` (default: current): ONE
    JSON snapshot carrying (a) the version's full state (files / dv /
    stats / schema / mode), (b) compact per-version history rows
    v0..V — mode, committed_at, n_files, batch/stream ids, the
    pyspark-free schema shape, and the version's NEW-file delta
    (:func:`_version_delta`), and (c) the
    per-stream watermark map. Log-walking readers (:func:`history`,
    :func:`last_committed_batch`'s fallback scan) start at the latest
    checkpoint and read only the tail — O(versions since checkpoint)
    doc reads instead of O(versions).

    Built INCREMENTALLY from the previous checkpoint (O(interval) doc
    reads, so the auto-checkpoint never re-walks a long log) and
    written through the same CREATE-exclusive path as commit docs (a
    racing duplicate raises :class:`CommitConflict`, harmless).
    Written automatically by every CHECKPOINT_EVERY-th publish;
    callable explicitly after a vacuum-heavy or migration workload.
    Cumulative new-file deltas total O(files ever written) — the
    Delta checkpoint add-action cost, metadata-sized. Checkpoints are
    never vacuumed (audit value; _log/ is not swept).

    Doc-size bounds (ADVICE r13): schema shapes are DEDUPED into one
    ``shapes`` table referenced per row by ``shape_id`` — a 10k-version
    table with one schema embeds its shape once, not 10k times — and
    ``CHECKPOINT_HISTORY`` optionally caps the embedded history depth
    for long-lived tables (consumers degrade to doc walks below the
    window, never wrongly). Old-format checkpoints (per-row ``shape``)
    are still read; new docs are always written deduped."""
    cur, cks = _log_maxima(spark, table)  # ONE listing for both
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    v = cur if version is None else version
    if not 0 <= v <= cur:
        raise ValueError(f"version {v} not in [0, {cur}] for {table}")

    prev_ck = max((n for n in cks if n <= v - 1), default=None)
    hist: list = []
    shapes: list = []
    watermarks: dict = {}
    prev_files: set = set()
    prev_dv: set = set()
    start = 0
    if prev_ck is not None:
        try:
            ckdoc = _read_json(spark, _checkpoint_path(table, prev_ck))
            hist, shapes = _load_ck_history(ckdoc)
            watermarks = dict(ckdoc.get("watermarks") or {})
            prev_files = set(ckdoc["files"])
            prev_dv = set(ckdoc.get("dv") or [])
            start = prev_ck + 1
        except Exception:  # noqa: BLE001 — torn previous checkpoint:
            # rebuild from the log root (one slow checkpoint beats the
            # corrupt doc silently voiding every FUTURE auto-checkpoint
            # forever — review r13)
            hist, shapes, watermarks, prev_files, prev_dv, start = (
                [], [], {}, set(), set(), 0,
            )
    shape_ids = {json.dumps(s): i for i, s in enumerate(shapes)}
    for vv in range(start, v + 1):
        doc = _version_doc(spark, table, vv)
        files = doc["files"]
        dv = doc.get("dv") or []
        new_files, dv_new, snap_dv = _version_delta(
            vv, doc["mode"], files, dv, prev_files, prev_dv
        )
        shape = _shape_rows(doc["schema"])
        key = json.dumps(shape)
        if key not in shape_ids:
            shape_ids[key] = len(shapes)
            shapes.append(shape)
        row = {
            "version": vv,
            "mode": doc["mode"],
            "n_files": len(files),
            "committed_at": doc["committed_at"],
            "shape_id": shape_ids[key],
            "new_files": new_files,
        }
        if "user_metadata" in doc:
            # the audit string must not vanish from history() when a
            # checkpoint compacts the version (review r15)
            row["user_metadata"] = doc["user_metadata"]
        if dv_new:
            # a delete version's NEW vector files
            row["dv_new"] = dv_new
        if snap_dv:
            # a shallow CLONE's v0 — or a RESTORE-published overwrite —
            # carries vectors naming its own files; snapshot deliveries
            # must mask them (review r13)
            row["dv"] = snap_dv
        if "batch_id" in doc:
            row["batch_id"] = doc["batch_id"]
        if "stream_id" in doc:
            row["stream_id"] = doc["stream_id"]
            if "batch_id" in doc:
                # streaming batch ids are monotone in version order,
                # so the last writer in the walk is the max
                watermarks[doc["stream_id"]] = doc["batch_id"]
        hist.append(row)
        prev_files = set(files)
        prev_dv = set(dv)
    if CHECKPOINT_HISTORY is not None and len(hist) > CHECKPOINT_HISTORY:
        if CHECKPOINT_HISTORY < 0:
            raise ValueError(
                f"CHECKPOINT_HISTORY must be >= 0 or None, got "
                f"{CHECKPOINT_HISTORY}"
            )
        # NOT hist[-CHECKPOINT_HISTORY:] — a 0 bound would slice to
        # hist[0:] and silently keep the FULL history (review r14)
        hist = hist[len(hist) - CHECKPOINT_HISTORY:]
        # re-intern: dropping rows can orphan shapes; rebuild the
        # table so the doc never carries dead entries
        kept: dict[str, int] = {}
        new_shapes: list = []
        for row in hist:
            s = shapes[row["shape_id"]]
            k = json.dumps(s)
            if k not in kept:
                kept[k] = len(new_shapes)
                new_shapes.append(s)
            row["shape_id"] = kept[k]
        shapes = new_shapes
    # the loop always ran: prev_ck <= v-1 by the max_version bound,
    # so start <= v and doc is the version-v doc here
    ck = {
        "checkpoint_version": v,
        "mode": doc["mode"],
        "files": doc["files"],
        "schema": doc["schema"],
        "shapes": shapes,
        "history": hist,
        "watermarks": watermarks,
    }
    if doc.get("stats"):
        ck["stats"] = doc["stats"]
    if doc.get("dv"):
        ck["dv"] = doc["dv"]
    _write_log_doc_exclusive(
        spark, table, f"_checkpoint_v{v}.json", ck
    )
    return ck


def _load_ck_history(ckdoc: dict) -> tuple[list, list]:
    """(history rows, shapes table) from a checkpoint doc, normalized
    to the deduped ``shape_id`` form — old-format rows (inline
    ``shape``, pre-r14) are interned on load so the incremental
    builder sees ONE format. Handles MIXED docs
    too (a pre-r14 writer extending a new-format doc appends inline
    rows after shape_id rows): the doc's ``shapes`` table seeds the
    intern map FIRST, so surviving shape_id rows keep resolving
    against the table they were written with (review r14)."""
    shapes: list = list(ckdoc.get("shapes") or [])
    ids: dict[str, int] = {json.dumps(s): i for i, s in enumerate(shapes)}
    rows: list = []
    for r in ckdoc["history"]:
        r = dict(r)
        if "shape" in r:  # old-format row: inline shape
            s = r.pop("shape")
            k = json.dumps(s)
            if k not in ids:
                ids[k] = len(shapes)
                shapes.append(s)
            r["shape_id"] = ids[k]
        rows.append(r)
    return rows, shapes


def history(spark: SparkSession, table: str) -> list[dict]:
    """Every commit doc, version-ascending, file lists summarized to
    counts (the audit view). Reads the latest checkpoint's compact
    rows + only the tail docs after it (X139) — O(versions since
    checkpoint), not O(versions)."""
    cur, cks = _log_maxima(spark, table)
    if cur is None:
        return []
    out: list = []
    start = 0
    ck = max((n for n in cks if n <= cur), default=None)
    head: list = []
    if ck is not None:
        try:
            ckdoc = _read_json(spark, _checkpoint_path(table, ck))
            rows = ckdoc["history"]
            out = [
                {
                    "version": r["version"],
                    "mode": r["mode"],
                    "n_files": r["n_files"],
                    "committed_at": r["committed_at"],
                    **(
                        {"user_metadata": r["user_metadata"]}
                        if "user_metadata" in r
                        else {}
                    ),
                }
                for r in rows
            ]
            start = ck + 1
            # a CHECKPOINT_HISTORY-bounded doc retains only the
            # trailing window — doc-walk the versions below it so the
            # audit view stays complete (ADVICE r13)
            floor = rows[0]["version"] if rows else ck + 1
            for v in range(0, floor):
                doc = _version_doc(spark, table, v)
                hrow = {
                    "version": doc["version"],
                    "mode": doc["mode"],
                    "n_files": len(doc["files"]),
                    "committed_at": doc["committed_at"],
                }
                if "user_metadata" in doc:
                    hrow["user_metadata"] = doc["user_metadata"]
                head.append(hrow)
        except Exception:  # noqa: BLE001 — torn checkpoint: the
            # advisory accelerator must never break the audit view
            # (review r13) — full doc walk
            out, head, start = [], [], 0
    for v in range(start, cur + 1):
        doc = _version_doc(spark, table, v)
        row = {
            "version": doc["version"],
            "mode": doc["mode"],
            "n_files": len(doc["files"]),
            "committed_at": doc["committed_at"],
        }
        if "user_metadata" in doc:
            row["user_metadata"] = doc["user_metadata"]
        out.append(row)
    return head + out


def clone(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    version: int | None = None,
    as_of=None,
) -> dict:
    """X141 — zero-copy SHALLOW clone (Delta's ``CLONE``): publish
    ``dst_table``'s v0 referencing the SOURCE's data files (plus its
    deletion vectors and per-file data-skipping statistics, all
    carried over) at ``version`` (default:
    current). No data moves — the clone is one metadata doc, whatever
    the table size; the canonical cheap test/dev/experiment copy of a
    100 TB table.

    Divergence is free and safe: later commits to the clone write
    into the clone's OWN data dirs, and the clone's :func:`vacuum`
    can never delete source-owned files (the sweep walks only the
    clone's own ``data/``/``dv/`` roots; foreign paths in old docs
    are simply not visited). The one real caveat is Delta's own: the
    SOURCE's vacuum does not know about clones — a src vacuum whose
    kept window drops the cloned version reclaims files the clone
    still references, so pin src retention (or deep-copy with
    ``optimize`` on the clone first, which rewrites everything into
    clone-owned files).

    ``dst_table`` must not exist. ``as_of`` (X145) clones the version
    current at a wall-clock instant instead of a number — Delta's
    ``CLONE ... TIMESTAMP AS OF``; mutually exclusive with
    ``version``. Returns the published v0 doc."""
    if version is not None and as_of is not None:
        raise ValueError("pass version OR as_of, not both")
    src_cur = current_version(spark, src_table)
    if src_cur is None:
        raise ValueError(f"no such versioned table: {src_table}")
    if as_of is not None:
        v = version_at(spark, src_table, as_of)
    else:
        v = src_cur if version is None else version
    if not 0 <= v <= src_cur:
        raise ValueError(
            f"version {v} not in [0, {src_cur}] for {src_table}"
        )
    if current_version(spark, dst_table) is not None:
        raise ValueError(
            f"clone destination already exists: {dst_table}"
        )
    doc = _version_doc(spark, src_table, v)
    # the clone's v0 has no predecessor to inherit from — carry the
    # SOURCE's constraints and generated-column exprs explicitly
    # (Delta clones table metadata)
    return _publish(
        spark, dst_table, 0, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        constraints=doc.get("constraints"),
        generated=doc.get("generated"),
        properties=doc.get("properties"),
        colmap=doc.get("colmap"), retired=doc.get("retired"),
        identity=doc.get("identity"),
        # X163: the clone references the SOURCE's files — if any of
        # them store a narrower type than the declared schema, the
        # record (and its 'widen' reader stamp) must ride along or
        # the clone under-gates old readers (self-review r17). The
        # X161 marker carries too, so the clone's first bare optimize
        # stays incremental.
        widened=doc.get("widened"),
        clustered=doc.get("clustered"),
    )


#: reclaimable-file-count threshold above which vacuum() deletes
#: executor-side (one Spark job over the path list, pyarrow
#: FileSystem deletes in parallel) instead of the driver-serial
#: Hadoop loop — at 100 TB a compaction-churned table reclaims
#: millions of files per vacuum, and one driver RPC per file is
#: hours on an object store (10-100 ms per DELETE). Measured on
#: LOCAL fs (a one-off scale probe): 1500 deletes = 1.9 s driver-serial
#: vs 5.8 s as a job — local unlink is ~1 ms, so the local crossover
#: sits near ~10k files; object-store round-trips cross over far
#: earlier. The default is sized for the local measurement (the
#: conservative one); lower it on high-latency stores.
VACUUM_DISTRIBUTED_DELETES = 10_000

#: file-count threshold below which convert_parquet verifies footer
#: shapes on the DRIVER (a handful of metadata GETs) instead of the
#: distributed mapInPandas pass — the distributed path's per-run
#: Python-worker spin-up costs seconds, which dwarfs small converts;
#: a million-file lake still takes the distributed pass
CONVERT_DRIVER_FOOTERS = 64


def convert_parquet(
    spark: SparkSession,
    src_dir: str,
    table: str,
    stats_cols: list[str] | None = None,
) -> dict:
    """X147 — Delta's ``CONVERT TO DELTA``: publish an existing plain
    parquet directory as version 0 of a NEW versioned table WITHOUT
    copying data — one metadata doc referencing the files in place,
    whatever the dataset size. The entry ramp: a 100 TB parquet lake
    gains time travel, optimistic concurrency, deletion vectors and
    MERGE with zero data movement; later commits
    write into the table's OWN data dirs and (the clone rule) the
    table's :func:`vacuum` can never delete the converted source
    files — its sweep walks only table-owned ``data/``/``dv/`` roots.

    Honest contract, enforced loudly rather than half-supported:

    * hive ``key=value`` layouts RAISE (the partition values live in
      directory names, not file contents — converting would silently
      DROP those columns; the compact_parquet guard, same rationale);
    * per-file schema shapes must be IDENTICAL — verified by ONE
      footer pass (driver-side up to ``CONVERT_DRIVER_FOOTERS``
      files, else a distributed ``mapInPandas`` over the file list,
      exchange bounded by distinct shapes), because parquet's
      missing-column-reads-as-NULL resolution would otherwise
      smuggle a silent schema mixture into the pinned v0;
    * ``stats_cols`` opts into per-file skipping stats (the same ONE
      distributed pass appends use) so pruned reads work from v0;
    * the destination must not exist; the source keeps working as a
      plain parquet dir (files are shared, not moved) — mutating it
      in place afterwards voids the converted table's immutability,
      exactly Delta's post-convert caveat."""
    if current_version(spark, table) is not None:
        raise ValueError(f"convert destination already exists: {table}")
    files = _list_parquet(spark, src_dir)  # hive layouts raise inside
    if not files:
        raise ValueError(f"no parquet data files under {src_dir}")

    def _footer_shape(p: str) -> str:
        import json as _json

        import pyarrow.parquet as _pq

        fsys, pp = _pa_fs(p)
        with fsys.open_input_file(pp) as fh:
            sch = _pq.ParquetFile(fh).schema_arrow
        return _json.dumps(
            [[n, str(t)] for n, t in zip(sch.names, sch.types)]
        )

    if len(files) <= CONVERT_DRIVER_FOOTERS:
        # metadata-sized list: read the footers on the driver — the
        # distributed pass below exists for million-file lakes, and
        # its per-run Python-worker spin-up dwarfs a handful of
        # footer GETs (solo profile, r15)
        shapes = sorted({_footer_shape(f) for f in files})
    else:

        def _shapes(batches):
            import pandas as _pd

            for pdf in batches:
                yield _pd.DataFrame(
                    {"shape": [_footer_shape(p) for p in pdf["path"]]}
                )

        shapes = (
            spark.createDataFrame([(f,) for f in files], "path string")
            .mapInPandas(_shapes, "shape string")
            .distinct()
            .collect()
        )
    if len(shapes) > 1:
        raise ValueError(
            f"cannot convert {src_dir}: {len(shapes)} distinct file "
            "schemas found — a convert pins ONE v0 schema, and "
            "parquet's missing-column-as-NULL resolution would make "
            "the mixture silent; rewrite the stragglers first (later "
            "commits can evolve additively via merge_schema=True)"
        )
    schema_json = spark.read.parquet(*files).schema.json()
    stats = None
    if stats_cols:
        stats = _remap_stats(
            _collect_file_stats(spark, files, stats_cols), files
        )
    return _publish(
        spark, table, 0, files, "append", schema_json,
        stats=stats or None,
    )


def set_constraint(
    spark: SparkSession, table: str, name: str, check_sql: str
) -> dict:
    """X149 — Delta's ``ALTER TABLE ADD CONSTRAINT``: persist a CHECK
    constraint IN the table so EVERY writer enforces it from the next
    version on — :func:`commit` (append and overwrite, including the
    X148 rebase path, which re-enforces when it discovers an
    interleaved constraint change) and :func:`merge_rows` gate their
    new rows; :func:`clone` carries the set to the clone; maintenance
    publishes (optimize/restore/delete) inherit it automatically (the
    ``_publish`` default — no code path can silently shed it).

    SQL CHECK semantics: a row violates only when ``check_sql`` is
    FALSE; NULL passes (add an ``IS NOT NULL`` conjunct for NOT-NULL
    intent). Delta's rule for existing data applies: the CURRENT live
    rows must already satisfy the constraint or this call fails (one
    scan) — a constraint the table already violates would make every
    future commit's failure message lie about whose rows are bad.
    Setting an existing ``name`` replaces its expression (after the
    same validation). The publish is a files-unchanged ``append``
    version: it adds no data files, history shows the
    metadata commit, OCC applies (a racing writer raises
    :class:`CommitConflict`). Returns the published doc."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name or ""):
        raise ValueError(
            f"constraint name must be an identifier, got {name!r}"
        )
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    live = read_version(spark, table, cur)
    # eager parse/bind — a typo must fail here, not at the next commit
    live.select(F.expr(check_sql))
    bad = _check_violations(live, {name: check_sql})
    if bad:
        raise ValueError(
            f"cannot add CHECK constraint {name!r} ({check_sql}): "
            f"{bad[name]} existing live row(s) already violate it"
        )
    merged = dict(doc.get("constraints") or {})
    merged[name] = check_sql
    return _publish(
        spark, table, cur + 1, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        constraints=merged,
    )


def drop_constraint(
    spark: SparkSession, table: str, name: str
) -> dict:
    """X149 — remove a persisted CHECK constraint (Delta's ``DROP
    CONSTRAINT``): publishes a files-unchanged version whose
    constraint set no longer carries ``name``; raises if the
    constraint does not exist (a silent no-op would hide a typo from
    an operator who believes enforcement stopped)."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    have = dict(doc.get("constraints") or {})
    if name not in have:
        raise ValueError(
            f"no CHECK constraint {name!r} on {table} "
            f"(present: {sorted(have) or 'none'})"
        )
    del have[name]
    return _publish(
        spark, table, cur + 1, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        constraints=have or None,
    )


def set_generated(
    spark: SparkSession, table: str, col: str, expr_sql: str
) -> dict:
    """X153 — Delta's ``GENERATED ALWAYS AS``: persist a generation
    expression for an EXISTING column so every subsequent write either
    computes it (column omitted from the write — commit fills it
    before the schema check) or is gated against it (column supplied —
    a null-safe mismatch on any new row fails the write before
    publish, like the X149 CHECK gate). Maintenance publishes and
    clones inherit/carry the expression set like constraints.

    The column must already exist in the current schema (add it first
    with an X152 ``merge_schema=True`` append — NULL-filled history is
    exactly what a newly generated column's old rows look like in
    Delta too); the expression must parse against the current schema,
    must not reference the column itself, and the CURRENT live rows
    must already satisfy it OR hold NULL there (the backfill-free
    rule: pre-existing NULLs pass, disagreeing values fail — a
    generated column the table already contradicts would make every
    future failure message lie). The publish is a files-unchanged
    append version, OCC applies. Returns the published doc."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    names = [n for n, _ in _schema_shape(doc["schema"])]
    if col not in names:
        raise ValueError(
            f"generated column {col!r} not in the table schema "
            f"{names} — add it first (merge_schema=True append)"
        )
    if col in (doc.get("identity") or {}):
        raise ValueError(
            f"column {col!r} is an identity column — a column cannot "
            "be both identity and generated (X158)"
        )
    live = read_version(spark, table, cur)
    live.select(F.expr(expr_sql))  # eager parse/bind — fail here
    # self-reference check through the RESOLVER, not text matching
    # (ADVICE r15: a word-boundary regex falsely refused the name
    # inside a string literal and missed case-variant or creatively
    # quoted references): the expression just bound against the full
    # schema, so if it no longer binds once the column is dropped, the
    # only name it lost is the column itself
    try:
        live.drop(col).select(F.expr(expr_sql))
    except Exception:
        raise ValueError(
            f"generated expression for {col!r} references the column "
            f"itself: {expr_sql!r}"
        ) from None
    decl = dict(_schema_shape(doc["schema"]))[col]
    bad = _check_violations(
        live,
        {
            col: (
                f"{col} IS NULL OR {col} <=> "
                f"CAST(({expr_sql}) AS {decl})"
            )
        },
    )
    if bad:
        raise ValueError(
            f"cannot set GENERATED ALWAYS AS on {col!r} ({expr_sql}): "
            f"{bad[col]} existing live row(s) disagree with it"
        )
    merged = dict(doc.get("generated") or {})
    merged[col] = expr_sql
    return _publish(
        spark, table, cur + 1, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        constraints=doc.get("constraints"), generated=merged,
    )


def drop_generated(
    spark: SparkSession, table: str, col: str
) -> dict:
    """X153 — remove a column's generation expression: publishes a
    files-unchanged version without it; raises if the column has none
    (a silent no-op would hide a typo from an operator who believes
    generation stopped)."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    have = dict(doc.get("generated") or {})
    if col not in have:
        raise ValueError(
            f"no generated expression on {col!r} of {table} "
            f"(present: {sorted(have) or 'none'})"
        )
    del have[col]
    return _publish(
        spark, table, cur + 1, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        constraints=doc.get("constraints"), generated=have or None,
    )


def set_identity(
    spark: SparkSession,
    table: str,
    col: str,
    start: int = 1,
    step: int = 1,
) -> dict:
    """X158 — Delta's ``GENERATED BY DEFAULT AS IDENTITY``: persist an
    identity sequence (``start``, ``step``) on an EXISTING bigint
    column. Every subsequent write OMITTING the column gets the next
    consecutive values allocated (a scalable two-pass zipWithIndex —
    never a global sort); a write SUPPLYING it is accepted and the
    watermark advances past its values in the allocation direction
    (the BY DEFAULT semantics; NULLs refuse — identity columns are
    implicitly NOT NULL). The watermark starts PAST the current live
    values (Delta's SYNC IDENTITY alignment), so existing data never
    collides with future allocations; existing NULLs stay NULL
    (identity is not a backfill — same rule as generated columns).

    Values are UNIQUE among all allocations and aligned supplied
    values, but not gapless (Delta's contract: a failed write burns
    its range). Concurrency: a racing allocation surfaces
    CommitConflict instead of rebasing (two blind appends would have
    allocated the same range — Delta's identity conflict); maintenance
    publishes inherit the metadata like constraints. A column cannot
    be both identity and GENERATED ALWAYS AS."""
    if step == 0:
        raise ValueError("identity step must be non-zero")
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    shape = dict(_schema_shape(doc["schema"]))
    if col not in shape:
        raise ValueError(
            f"identity column {col!r} not in the table schema "
            f"{sorted(shape)} — add it first (merge_schema=True append)"
        )
    if shape[col] != "bigint":
        raise ValueError(
            f"identity column {col!r} has type {shape[col]} — identity "
            "requires bigint"
        )
    if col in (doc.get("generated") or {}):
        raise ValueError(
            f"column {col!r} is GENERATED ALWAYS AS — a column cannot "
            "be both generated and identity"
        )
    live = read_version(spark, table, cur)
    q = F.col(f"`{col}`")
    row = live.agg(F.max(q).alias("mx"), F.min(q).alias("mn")).first()
    high = start - step  # nothing allocated yet
    ext = row["mx"] if step > 0 else row["mn"]
    if ext is not None:
        aligned = _identity_grid_ceil(int(ext), start, step)
        if (step > 0 and aligned > high) or (step < 0 and aligned < high):
            high = aligned
    merged = dict(doc.get("identity") or {})
    merged[col] = {"start": int(start), "step": int(step), "high": int(high)}
    return _publish(
        spark, table, cur + 1, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        identity=merged,
    )


def drop_identity(spark: SparkSession, table: str, col: str) -> dict:
    """X158 — stop identity allocation for ``col``: publishes a
    files-unchanged version without its metadata; raises if the
    column has none (the drop_generated rule — a silent no-op would
    hide a typo)."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    have = dict(doc.get("identity") or {})
    if col not in have:
        raise ValueError(
            f"no identity sequence on {col!r} of {table} "
            f"(present: {sorted(have) or 'none'})"
        )
    del have[col]
    return _publish(
        spark, table, cur + 1, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        identity=have or None,
    )


def sync_identity(spark: SparkSession, table: str, col: str) -> dict:
    """X158 — Delta's ``ALTER TABLE ... SYNC IDENTITY``: re-align the
    watermark with the column's live values (after a restore exposed
    older data, or supplied values drifted). The watermark only ever
    ADVANCES — syncing below previously-allocated values would hand
    out duplicates."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    have = dict(doc.get("identity") or {})
    if col not in have:
        raise ValueError(
            f"no identity sequence on {col!r} of {table} "
            f"(present: {sorted(have) or 'none'})"
        )
    live = read_version(spark, table, cur)
    updated = _advance_identity({col: have[col]}, live)
    have[col] = updated[col]
    return _publish(
        spark, table, cur + 1, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        identity=have,
    )


#: table properties with a validated meaning (X155). Free-form keys
#: are allowed too (documentation/audit); these ones are CONSUMED:
#: vacuum.keep_last / vacuum.min_age_seconds set the table's own
#: vacuum retention defaults (Delta's deletedFileRetentionDuration
#: idea — the table owns its retention policy, not every caller).
_KNOWN_PROPERTIES = {
    "vacuum.keep_last": lambda v: int(v) >= 1,
    "vacuum.min_age_seconds": lambda v: float(v) >= 0,
    "checkpoint.every": lambda v: int(v) >= 1,
    # X159 — persisted clustering keys (Delta liquid clustering's
    # CLUSTER BY): a comma-separated column list + optional curve,
    # consumed as optimize()'s defaults (explicit args always win)
    "cluster.by": lambda v: bool(
        v.strip() and all(c.strip() for c in v.split(","))
    ),
    "cluster.curve": lambda v: v in ("zorder", "hilbert"),
    # X165 — persisted parquet Bloom-filter policy (the X96 writer as
    # TABLE metadata): every commit/merge/optimize write stamps
    # split-block Bloom filters on these columns' footers, so
    # equality probes on high-cardinality columns prune row groups
    # on ANY engine that reads parquet footers
    "bloom.cols": lambda v: bool(
        v.strip() and all(c.strip() for c in v.split(","))
    ),
    "bloom.fpp": lambda v: 0.0 < float(v) < 1.0,
    "bloom.ndv": lambda v: int(v) >= 1,
}


def _bloom_write_options(
    props: dict | None, colmap: dict, schema_json: str
) -> dict:
    """X165 — the parquet writer options a table's persisted
    ``bloom.cols`` policy demands, keyed by PHYSICAL column name
    (files store physical names, X157). Columns the current schema
    lacks are skipped — a policy must never fail a write after
    schema drift (the stats-default rule)."""
    raw = (props or {}).get("bloom.cols", "")
    cols = [c.strip() for c in raw.split(",") if c.strip()]
    if not cols:
        return {}
    names = {n for n, _ in _schema_shape(schema_json)}
    fpp = (props or {}).get("bloom.fpp")
    ndv = (props or {}).get("bloom.ndv")
    out: dict = {}
    for c in cols:
        if c not in names:
            continue
        p = _phys(colmap, c)
        out[f"parquet.bloom.filter.enabled#{p}"] = "true"
        if fpp is not None:
            out[f"parquet.bloom.filter.fpp#{p}"] = str(float(fpp))
        if ndv is not None:
            out[f"parquet.bloom.filter.expected.ndv#{p}"] = str(int(ndv))
    return out


def _cluster_by_property(props: dict | None) -> list[str]:
    """The persisted clustering column list (X159), [] when unset."""
    raw = (props or {}).get("cluster.by", "")
    return [c.strip() for c in raw.split(",") if c.strip()]


def set_property(
    spark: SparkSession, table: str, key: str, value
) -> dict:
    """X155 — persist a table property (Delta's TBLPROPERTIES):
    stored on the version doc, inherited by every subsequent publish
    (the constraints rule), carried by clones. Known keys are
    validated eagerly (``vacuum.keep_last``,
    ``vacuum.min_age_seconds`` — consumed as :func:`vacuum`'s
    defaults); unknown keys are free-form audit/config carriage.
    Values are stored as strings. Publishes a files-unchanged
    version; OCC applies."""
    check = _KNOWN_PROPERTIES.get(key)
    if check is not None:
        try:
            # validate the STORED form — str(value) is what consumers
            # will int()/float() later, and int(2.5) passing while
            # int('2.5') raises is exactly the gap (review r15)
            ok = check(str(value))
        except (TypeError, ValueError):
            ok = False
        if not ok:
            raise ValueError(
                f"invalid value {value!r} for table property {key!r}"
            )
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    merged = dict(doc.get("properties") or {})
    merged[key] = str(value)
    return _publish(
        spark, table, cur + 1, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        constraints=doc.get("constraints"),
        generated=doc.get("generated"), properties=merged,
    )


def unset_property(spark: SparkSession, table: str, key: str) -> dict:
    """X155 — remove a table property; raises if absent (a silent
    no-op would hide a typo)."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    have = dict(doc.get("properties") or {})
    if key not in have:
        raise ValueError(
            f"no table property {key!r} on {table} "
            f"(present: {sorted(have) or 'none'})"
        )
    del have[key]
    return _publish(
        spark, table, cur + 1, doc["files"], "append", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        constraints=doc.get("constraints"),
        generated=doc.get("generated"), properties=have or None,
    )


def _resolve_column(names: list, col: str) -> str:
    """Resolve a user-supplied column name against the declared
    schema the way Spark's default case-insensitive analysis would:
    exact match wins, else a UNIQUE case-insensitive match resolves
    (VERDICT r16 — ``rename_column(t, "K2", "x")`` on a table owning
    ``k2`` must not error with "no such column" when every read of
    ``K2`` resolves fine). Ambiguity is impossible on tables this
    writer produced (case-variant columns are refused at write time),
    but a forged doc gets a loud error, never a coin flip."""
    if col in names:
        return col
    matches = [n for n in names if n.lower() == col.lower()]
    if len(matches) == 1:
        return matches[0]
    if matches:
        raise ValueError(
            f"column {col!r} is ambiguous under case-insensitive "
            f"resolution — table has {matches}"
        )
    raise ValueError(f"no such column {col!r} — table has {names}")


def _exprs_referencing(spark: SparkSession, doc: dict, col: str) -> list:
    """X157 guard shared by rename/drop: the labels of every persisted
    CHECK constraint or generated-column expression that REFERENCES
    ``col``. Resolver-based (the set_generated r16 rule, never text
    matching): each expression bound against the declared schema with
    ``col`` dropped — a bind failure means the expression lost exactly
    that name (they all bound fully when they were set)."""
    from pyspark.sql.types import StructType

    items = [
        (f"CHECK constraint {n!r}", sql)
        for n, sql in (doc.get("constraints") or {}).items()
    ] + [
        (f"generated column {c!r}", e)
        for c, e in (doc.get("generated") or {}).items()
    ]
    if not items:
        return []
    probe = spark.createDataFrame(
        [], StructType.fromJson(json.loads(doc["schema"]))
    ).drop(col)
    hits = []
    for label, sql in items:
        try:
            probe.select(F.expr(sql))
        except Exception:  # noqa: BLE001 — unresolved = references col
            hits.append(label)
    return hits


def rename_column(
    spark: SparkSession, table: str, old: str, new: str
) -> dict:
    """X157 — Delta's ``ALTER TABLE ... RENAME COLUMN`` under column
    mapping: a METADATA-ONLY publish (one doc write, whatever the
    table size) that renames the LOGICAL column while every data file
    keeps the column's stable PHYSICAL name (pinned at creation, the
    name files were written with). Reads of any version resolve
    physical→logical through that version's own ``colmap``, so time
    travel, clones, restores, DV reads, and the maintenance loop all
    keep working across the rename; per-file skipping stats are
    re-keyed so ``prune=`` works on the new name immediately.

    Refused loudly when a persisted CHECK constraint or ANOTHER
    generated column's expression references ``old`` (the expression
    SQL pins the name — Delta's rule; drop the constraint/expression
    first). A generated column being renamed ITSELF just re-keys its
    entry."""
    if not new or "`" in new:
        raise ValueError(f"invalid column name {new!r}")
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    from pyspark.sql.types import StructField, StructType

    st = StructType.fromJson(json.loads(doc["schema"]))
    names = st.fieldNames()
    old = _resolve_column(names, old)
    if new == old:
        raise ValueError(f"rename {old!r} to itself is a no-op — refused")
    if new.lower() in {n.lower() for n in names if n != old}:
        raise ValueError(
            f"column {new!r} already exists (or differs only by case "
            "from an existing column — ambiguous under "
            "case-insensitive resolution)"
        )
    hits = _exprs_referencing(spark, doc, old)
    if hits:
        raise ValueError(
            f"cannot rename {old!r}: referenced by {', '.join(hits)} — "
            "their SQL pins the name; drop/re-create them around the "
            "rename"
        )
    fields = [
        StructField(new, f.dataType, f.nullable, f.metadata)
        if f.name == old
        else f
        for f in st.fields
    ]
    cm = dict(_colmap(doc))
    phys = cm.pop(old, old)
    if phys != new:
        cm[new] = phys
    stats = doc.get("stats") or {}
    new_stats = {
        f: {(new if c == old else c): b for c, b in s.items()}
        for f, s in stats.items()
    }
    gen = dict(doc.get("generated") or {})
    if old in gen:
        gen[new] = gen.pop(old)
    ident = dict(doc.get("identity") or {})
    if old in ident:
        ident[new] = ident.pop(old)  # X158: re-key, sequence intact
    wid = dict(doc.get("widened") or {})
    if old in wid:
        wid[new] = wid.pop(old)  # X163: the narrow files follow too
    props = dict(doc.get("properties") or {})
    cb = _cluster_by_property(props)
    if old in cb:
        # X159: the persisted clustering policy follows the logical
        # rename (column mapping keeps logical references current)
        props["cluster.by"] = ",".join(
            new if c == old else c for c in cb
        )
    bc = [
        c.strip()
        for c in (props.get("bloom.cols") or "").split(",")
        if c.strip()
    ]
    if old in bc:
        # X165: the bloom policy follows the rename the same way
        props["bloom.cols"] = ",".join(
            new if c == old else c for c in bc
        )
    return _publish(
        spark, table, cur + 1, doc["files"], "append",
        StructType(fields).json(),
        stats=new_stats or None, dv=doc.get("dv") or None,
        generated=gen or None, identity=ident or None,
        properties=props or None,
        colmap=cm or None, retired=doc.get("retired"),
        schema_change={"op": "rename", "from": old, "to": new},
        widened=wid or None,
    )


def drop_column(spark: SparkSession, table: str, col: str) -> dict:
    """X157 — Delta's ``ALTER TABLE ... DROP COLUMN`` under column
    mapping: a METADATA-ONLY publish that removes the LOGICAL column;
    no data file is rewritten (the physical column's bytes stay in
    old files, unreferenced). The physical name is RETIRED: a later
    ``merge_schema`` re-add of the same logical name gets a fresh
    physical name, so the dropped data can never silently resurrect
    (Delta's reason for mapped physical names). Dropping a generated
    column drops its expression with it (Delta's rule); a column
    referenced by a CHECK constraint or another generated expression
    refuses — drop those first. Old versions still time-travel with
    the column (each doc pins its own schema)."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, cur)
    from pyspark.sql.types import StructType

    st = StructType.fromJson(json.loads(doc["schema"]))
    names = st.fieldNames()
    col = _resolve_column(names, col)
    if len(names) == 1:
        raise ValueError(f"cannot drop {col!r} — it is the last column")
    if col in _cluster_by_property(doc.get("properties")):
        raise ValueError(
            f"cannot drop {col!r}: it is a persisted clustering key "
            "(cluster.by) — unset the property or re-cluster on other "
            "columns first"
        )
    gen = dict(doc.get("generated") or {})
    gen.pop(col, None)  # dropping a generated column drops its expr
    probe_doc = dict(doc)
    probe_doc["generated"] = gen
    hits = _exprs_referencing(spark, probe_doc, col)
    if hits:
        raise ValueError(
            f"cannot drop {col!r}: referenced by {', '.join(hits)} — "
            "drop the constraint/expression first"
        )
    cm = dict(_colmap(doc))
    phys = cm.pop(col, col)
    retired = sorted(set(doc.get("retired") or []) | {phys})
    stats = doc.get("stats") or {}
    new_stats = {
        f: {c: b for c, b in s.items() if c != col}
        for f, s in stats.items()
    }
    ident = dict(doc.get("identity") or {})
    ident.pop(col, None)  # X158: dropping the column drops its sequence
    wid = dict(doc.get("widened") or {})
    wid.pop(col, None)  # X163: nobody reads the dropped narrow files
    props = dict(doc.get("properties") or {})
    bc = [
        c.strip()
        for c in (props.get("bloom.cols") or "").split(",")
        if c.strip() and c.strip() != col
    ]
    if props.get("bloom.cols") and bc != [
        c.strip() for c in props["bloom.cols"].split(",") if c.strip()
    ]:
        # X165: the dropped column leaves the bloom policy (unlike
        # cluster.by, which blocks the drop — a stale bloom entry
        # would only linger as a silently-skipped name)
        if bc:
            props["bloom.cols"] = ",".join(bc)
        else:
            props.pop("bloom.cols", None)
    return _publish(
        spark, table, cur + 1, doc["files"], "append",
        StructType([f for f in st.fields if f.name != col]).json(),
        stats=new_stats or None, dv=doc.get("dv") or None,
        generated=gen or None, identity=ident or None,
        colmap=cm or None, retired=retired,
        schema_change={"op": "drop", "column": col},
        widened=wid or None,
        properties=props or None,
    )


def table_properties(
    spark: SparkSession, table: str, version: int | None = None
) -> dict:
    """X155 — the property map at ``version`` (default current)."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    v = cur if version is None else version
    if not 0 <= v <= cur:
        raise ValueError(f"version {v} not in [0, {cur}] for {table}")
    return dict(_version_doc(spark, table, v).get("properties") or {})


def describe_detail(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    with_size: bool = False,
) -> dict:
    """Delta's ``DESCRIBE DETAIL``: one metadata-doc read summarizing
    the table at ``version`` (default current) — version, mode,
    committed_at, file/vector/stats counts, column names, persisted
    constraints, and the latest checkpoint at-or-before it.
    ``with_size=True`` additionally sums the live files' byte sizes
    via one FileSystem status call PER FILE (metadata GETs — the same
    cost Delta avoids by storing sizes in add actions; documented, so
    a million-file table opts in knowingly)."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    v = cur if version is None else version
    if not 0 <= v <= cur:
        raise ValueError(f"version {v} not in [0, {cur}] for {table}")
    doc = _version_doc(spark, table, v)
    _, cks = _log_maxima(spark, table)
    out = {
        "table": table,
        "version": v,
        "current_version": cur,
        "mode": doc["mode"],
        "committed_at": doc["committed_at"],
        "n_files": len(doc["files"]),
        "n_dv_files": len(doc.get("dv") or []),
        "n_stats_files": len(doc.get("stats") or {}),
        "columns": [n for n, _ in _schema_shape(doc["schema"])],
        "constraints": dict(doc.get("constraints") or {}),
        "generated": dict(doc.get("generated") or {}),
        "properties": dict(doc.get("properties") or {}),
        "colmap": dict(doc.get("colmap") or {}),
        "retired_columns": list(doc.get("retired") or []),
        "identity": dict(doc.get("identity") or {}),
        "widened": dict(doc.get("widened") or {}),
        "clustered_by": (doc.get("clustered") or {}).get("by") or [],
        "n_clustered_files": len(
            (doc.get("clustered") or {}).get("files") or []
        ),
        "reader_requires": list(doc.get("reader_requires") or []),
        "writer_requires": list(doc.get("writer_requires") or []),
        "latest_checkpoint": max(
            (n for n in cks if n <= v), default=None
        ),
        "user_metadata": doc.get("user_metadata"),
    }
    if with_size:
        out["size_bytes"] = int(
            sum(_file_len(spark, f) for f in doc["files"])
        )
    return out


def restore(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    as_of=None,
) -> dict:
    """X143 — Delta's ``RESTORE TABLE ... TO VERSION``: publish an old
    version's state (files, deletion vectors, stats, schema) as the
    table's NEXT version — a metadata-only rollback that keeps the
    full history auditable (the bad versions stay time-travelable;
    nothing is deleted). One doc write, whatever the table size.
    ``as_of`` (X145, mutually exclusive with ``version``) restores to
    the version CURRENT at that instant — Delta's ``RESTORE ... TO
    TIMESTAMP AS OF`` — via :func:`version_at`.

    The restored version must still be inside the vacuum-kept window
    — restoring past a vacuum re-exposes a file list whose files are
    gone, so the target's files are NOT re-validated here (metadata
    op; the same trust model as time travel, which fails loudly at
    read time). The publish is pinned to the current version
    (``expected_base`` semantics): a concurrent commit wins the slot
    and this restore raises :class:`CommitConflict`."""
    if (version is None) == (as_of is None):
        raise ValueError("pass version= OR as_of=, not both/neither")
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    if as_of is not None:
        version = version_at(spark, table, as_of)
    if not 0 <= version <= cur:
        raise ValueError(f"version {version} not in [0, {cur}] for {table}")
    if version == cur:
        return _version_doc(spark, table, cur)  # no-op: already there
    doc = _version_doc(spark, table, version)
    # X158: the restored metadata's watermark must stay MONOTONE —
    # values allocated by the rolled-back versions are burned forever
    # (re-issuing them after a later re-insert would duplicate ids),
    # exactly why sync_identity also only advances
    rid = dict(doc.get("identity") or {})
    if rid:
        cur_id = _version_doc(spark, table, cur).get("identity") or {}
        for c, m in rid.items():
            cm_ = cur_id.get(c)
            if cm_ is None:
                # the sequence is currently DROPPED: versions between
                # the restore target and the drop may still have
                # allocated past the restored watermark — walk back to
                # the most recent doc that carried a sequence on this
                # column (rare admin op; each doc is one small JSON
                # read) so those allocations stay burned (ADVICE r16)
                for v_ in range(cur - 1, version, -1):
                    past = (
                        _version_doc(spark, table, v_).get("identity")
                        or {}
                    )
                    if c in past:
                        cm_ = past[c]
                        break
            if not cm_:
                continue
            if cm_.get("step") == m.get("step"):
                if m["step"] > 0:
                    rid[c] = {**m, "high": max(m["high"], cm_["high"])}
                else:
                    rid[c] = {**m, "high": min(m["high"], cm_["high"])}
            else:
                # STEP MISMATCH (drop_identity + set_identity with a
                # different step between target and now — ADVICE r16):
                # silently keeping the restored (older) watermark
                # would re-issue values the interim sequence already
                # allocated. Advance the restored high past the
                # interim sequence's whole allocated envelope
                # [start, high], grid-aligned to the RESTORED
                # sequence, so the monotone-watermark invariant the
                # surrounding docstring promises actually holds.
                if m["step"] > 0:
                    ext = max(cm_["high"], cm_["start"])
                    aligned = _identity_grid_ceil(
                        ext, m["start"], m["step"]
                    )
                    rid[c] = {**m, "high": max(m["high"], aligned)}
                else:
                    ext = min(cm_["high"], cm_["start"])
                    aligned = _identity_grid_ceil(
                        ext, m["start"], m["step"]
                    )
                    rid[c] = {**m, "high": min(m["high"], aligned)}
    return _publish(
        spark, table, cur + 1, doc["files"], "overwrite", doc["schema"],
        stats=doc.get("stats") or None, dv=doc.get("dv") or None,
        colmap=doc.get("colmap"), retired=doc.get("retired"),
        identity=rid or None,
    )


def _sidecar_path(table: str, stream_id: str) -> str:
    import hashlib

    h = hashlib.md5(stream_id.encode("utf-8")).hexdigest()
    return f"{table}/_log/_stream_{h}.json"


def _write_stream_sidecar(
    spark: SparkSession, table: str, stream_id: str, batch_id: int,
    version: int,
) -> None:
    """Best-effort per-(table, stream) watermark sidecar, written AFTER
    the version doc is durable (so it can trail the log but never lead
    it). A lost/torn sidecar only degrades the reader to a deeper
    scan — never a correctness loss."""
    fs, _ = _fs(spark, table)
    doc = json.dumps(
        {"stream_id": stream_id, "batch_id": batch_id, "version": version}
    )
    dst = _path(spark, _sidecar_path(table, stream_id))
    tmp = _path(
        spark, f"{table}/_log/.stream_{uuid.uuid4().hex}.tmp"
    )
    try:
        stream = fs.create(tmp, False)
        try:
            stream.write(bytearray(doc.encode("utf-8")))
        finally:
            stream.close()
        # plain overwrite rename: one ACTIVE stream per (table,
        # stream_id) is the documented contract, so there is no racing
        # sidecar WRITER; a racing READER in the delete/rename gap
        # just falls back to the scan
        fs.delete(dst, False)
        if not fs.rename(tmp, dst):
            fs.delete(tmp, False)
    except Exception:  # noqa: BLE001 — advisory cache only
        # never leak the temp into _log/ (current_version lists that
        # directory on every commit; self-review r12)
        try:
            fs.delete(tmp, False)
        except Exception:  # noqa: BLE001
            pass


def last_committed_batch(
    spark: SparkSession, table: str, stream_id: str
) -> int | None:
    """Greatest ``batch_id`` committed BY THIS STREAM (identified by
    ``stream_id`` — batch ids are only monotone within one checkpoint,
    so a watermark without stream identity would silently drop the
    first batches of any fresh-checkpoint restart; the Delta
    txnAppId+txnVersion pairing, self-review r11). Scans the log
    NEWEST-FIRST and stops at this stream's first match — streaming
    commits are monotone in version order, so that match IS the
    maximum. The scan floor is the stream's watermark SIDECAR
    (written after every streaming commit), so the steady-state cost
    is O(commits by ANY writer since this stream's last sidecar), not
    O(all versions) — ADVICE r11: without the floor, a stream that
    never committed (or sits behind many foreign commits) re-read
    every v*.json on every micro-batch of a long-lived multi-writer
    table. A missing/torn/stale sidecar only deepens the scan — to the
    latest CHECKPOINT, not the log root: the checkpoint's watermark
    map is complete for every version it covers (X139), so a
    sidecar-less cold start is O(versions since checkpoint)."""
    cur, cks = _log_maxima(spark, table)  # ONE listing for both maxima
    if cur is None:
        return None
    floor_batch: int | None = None
    floor_version = -1
    try:
        side = _read_json(spark, _sidecar_path(table, stream_id))
        if (
            side.get("stream_id") == stream_id
            and isinstance(side.get("batch_id"), int)
            and isinstance(side.get("version"), int)
            and 0 <= side["version"] <= cur
        ):
            floor_batch = side["batch_id"]
            floor_version = side["version"]
    except Exception:  # noqa: BLE001 — absent/torn sidecar: checkpoint
        pass
    # scan the tail ABOVE the checkpoint first — the steady-state hit
    # (an active stream's own recent commit) is found in O(1) doc
    # reads without ever parsing the (history-sized) checkpoint doc;
    # the checkpoint is consulted LAZILY only on a tail miss (the
    # sidecar-less cold start), where its watermark map answers in one
    # read instead of a walk to the log root (X139; the eager variant
    # measurably REGRESSED the hot path in a scale probe)
    ck = max((n for n in cks if n <= cur), default=None)
    hi_floor = floor_version if ck is None else max(floor_version, ck)
    for v in range(cur, hi_floor, -1):
        doc = _version_doc(spark, table, v)
        if doc.get("stream_id") == stream_id and "batch_id" in doc:
            return doc["batch_id"]
    if ck is not None and ck > floor_version:
        try:
            wms = (
                _read_json(spark, _checkpoint_path(table, ck)).get(
                    "watermarks"
                )
                or {}
            )
            # the map is complete for v <= ck: absence means this
            # stream never committed there — the sidecar's floor (or
            # None) is already the answer
            return wms.get(stream_id, floor_batch)
        except Exception:  # noqa: BLE001 — torn checkpoint: deep scan
            pass
    for v in range(hi_floor, floor_version, -1):
        doc = _version_doc(spark, table, v)
        if doc.get("stream_id") == stream_id and "batch_id" in doc:
            return doc["batch_id"]
    return floor_batch


def streaming_commit(stream: DataFrame, table: str, checkpoint: str):
    """``writeStream`` sink appending each micro-batch as a table
    version with EXACTLY-ONCE semantics (the Delta ``txnVersion``
    idea): Structured Streaming replays a failed micro-batch under the
    SAME ``batch_id``, so the sink skips any batch at or below the
    greatest batch_id already recorded in a version doc — a commit
    that succeeded but whose checkpoint write was lost is NOT applied
    twice. A :class:`CommitConflict` from a concurrent writer fails
    the batch; the stream's retry re-reads and lands on the next slot.
    Returns the CONFIGURED ``DataStreamWriter`` — the caller picks the
    trigger and starts it (``.trigger(availableNow=True).start()`` for
    a drain-and-stop backfill, plain ``.start()`` for continuous).

    The watermark is scoped to a ``stream_id`` (default: the
    checkpoint path) — batch ids are only meaningful within ONE
    checkpoint, so a restart on a fresh checkpoint gets a fresh
    watermark instead of silently dropping every batch up to the old
    one (the Delta txnAppId+txnVersion pairing; self-review r11).
    One ACTIVE stream per (table, stream_id)."""
    writer = (
        stream.writeStream.foreachBatch(
            _exactly_once_sink(table, checkpoint)
        ).option("checkpointLocation", checkpoint)
    )
    return writer


def _exactly_once_sink(table: str, stream_id: str):
    """The foreachBatch body, exposed so the crash-replay contract is
    directly testable: re-invoking with an already-committed batch_id
    of the SAME stream is a no-op."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last = last_committed_batch(spark, table, stream_id)
        if last is not None and batch_id <= last:
            return  # replayed micro-batch, already durable
        doc = commit(
            spark, batch_df, table, mode="append",
            batch_id=batch_id, stream_id=stream_id,
        )
        # advance the scan-floor sidecar (best-effort; ADVICE r11 —
        # keeps last_committed_batch O(commits since this one), not
        # O(all versions), on long-lived multi-writer tables)
        _write_stream_sidecar(
            spark, table, stream_id, batch_id, doc["version"]
        )

    return sink


def vacuum(
    spark: SparkSession,
    table: str,
    keep_last: int | None = None,
    min_age_seconds: float | None = None,
    dry_run: bool = False,
) -> dict:
    """Delete data files no version in the kept window references —
    the storage-reclaim half (closing the module's documented
    boundary): the live set is the union of the last ``keep_last``
    versions' file lists; anything else under ``data/`` older than
    ``min_age_seconds`` is deleted. That age guard is LOAD-BEARING,
    not a nicety: a concurrent commit writes its data directory
    BEFORE publishing its version doc, so a zero-age vacuum could
    delete an in-flight commit's files (the Delta retention rationale
    — lower it only when no writer can be active). After a vacuum,
    time travel reaches only the kept window; older version docs stay
    in the log as history but their reads fail on missing files.
    Driver-side metadata walk; deletes go driver-side below
    ``VACUUM_DISTRIBUTED_DELETES`` reclaimable files and through one
    executor-parallel Spark job above it (a million-file reclaim must
    not serialize on driver RPCs). Returns ``{n_deleted, n_kept,
    kept_versions}``.

    ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``): deletes
    NOTHING and additionally returns ``n_would_delete`` plus up to
    1,000 of the paths (``would_delete``) — the operator's look-
    before-you-reclaim check, since a vacuum past a version someone
    still time-travels to (or a clone still references) is the one
    irreversible operation in the format."""
    cur = current_version(spark, table)
    if cur is None:
        raise ValueError(f"no such versioned table: {table}")
    if keep_last is None or min_age_seconds is None:
        # X155: the table owns its retention policy — explicit args
        # win, table properties next, module defaults last
        props = _version_doc(spark, table, cur).get("properties") or {}
        if keep_last is None:
            keep_last = int(props.get("vacuum.keep_last", 2))
        if min_age_seconds is None:
            min_age_seconds = float(
                props.get("vacuum.min_age_seconds", 24 * 3600)
            )
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    if min_age_seconds < 0:
        raise ValueError(
            f"min_age_seconds must be >= 0, got {min_age_seconds}"
        )
    kept = list(range(max(0, cur - keep_last + 1), cur + 1))
    live: set[str] = set()
    for v in kept:
        doc = _version_doc(spark, table, v)
        live.update(doc["files"])
        # kept versions' deletion vectors are live too (r12) — reads
        # of those versions anti-join against them
        live.update(doc.get("dv") or [])
    fs, _ = _fs(spark, table)
    cutoff_ms = (time.time() - min_age_seconds) * 1000.0
    n_deleted = 0
    would: list[str] = []

    def _only_bookkeeping(p) -> bool:
        for st in fs.listStatus(p):
            if st.isDirectory():
                if not _only_bookkeeping(st.getPath()):
                    return False
            elif not st.getPath().getName().startswith(("_", ".")):
                return False
        return True

    # data/ and dv/ share the sweep: per-file live-set + age guard,
    # then the dead-directory sweep. Two guards (ADVICE r11):
    #  - the SAME min-age cutoff as file deletes — a concurrent
    #    commit creates its data dir before any content appears
    #    (even before _temporary), so an unguarded sweep could
    #    delete it mid-flight; deleting a dir's files above bumps
    #    its mtime, so a just-emptied dir waits for the NEXT
    #    vacuum >= min_age later (eventual, never unsafe)
    #  - "empty" means no non-bookkeeping content anywhere below:
    #    vacuumed dirs keep _SUCCESS/.crc forever, so a length-0
    #    test would never fire and they leaked
    for sub in ("data", "dv"):
        root = _path(spark, f"{table}/{sub}")
        if not fs.exists(root):
            continue
        stack = [root]
        files = []
        while stack:
            cur_p = stack.pop()
            for st in fs.listStatus(cur_p):
                if st.isDirectory():
                    stack.append(st.getPath())
                elif not st.getPath().getName().startswith(("_", ".")):
                    # bookkeeping files (_SUCCESS, .crc) are exempt:
                    # they are never in any version's file list, so an
                    # unfiltered walk would strip them from LIVE dirs
                    files.append(st)
        dead = []
        for st in files:
            p = st.getPath().toString()
            if p in live or st.getModificationTime() > cutoff_ms:
                continue
            if dry_run:
                if len(would) < 1000:
                    would.append(p)
                n_deleted += 1
                continue
            dead.append((p, st.getPath()))
        if dry_run:
            continue  # the dead-dir sweep also deletes — skip it
        if len(dead) > VACUUM_DISTRIBUTED_DELETES:
            # large reclaim: ship the path list to the executors and
            # delete in parallel through the pyarrow FileSystem layer
            # — a driver-serial delete pays one FS round-trip per
            # file, which at a million reclaimable files is hours;
            # the LISTING walk above stays driver-side (it is one
            # RPC per directory, not per file). Missing files count
            # as deleted (another vacuum may race this one — the
            # outcome, the file being gone, is what's reported).
            def _rm(batches):
                import pandas as _pd

                for pdf in batches:
                    n = 0
                    for p in pdf["path"]:
                        fsys, pp = _pa_fs(p)
                        try:
                            fsys.delete_file(pp)
                        except FileNotFoundError:
                            pass
                        n += 1
                    yield _pd.DataFrame({"n": [n]})

            paths = [p for p, _ in dead]
            n_parts = min(64, max(1, len(paths) // 256))
            n_deleted += int(
                spark.createDataFrame([(p,) for p in paths], "path string")
                .repartition(n_parts)
                .mapInPandas(_rm, "n long")
                .agg(F.sum("n"))
                .first()[0]
                or 0
            )
        else:
            for _, hp in dead:
                fs.delete(hp, False)
            n_deleted += len(dead)
        for st in fs.listStatus(root):
            if (
                st.isDirectory()
                and st.getModificationTime() <= cutoff_ms
                and _only_bookkeeping(st.getPath())
            ):
                fs.delete(st.getPath(), True)
    if dry_run:
        return {
            "n_deleted": 0,
            "n_would_delete": n_deleted,
            "would_delete": sorted(would),
            "n_kept": len(live),
            "kept_versions": kept,
        }
    return {
        "n_deleted": n_deleted,
        "n_kept": len(live),
        "kept_versions": kept,
    }


def _norm_file(p: str) -> str:
    """Scheme-stripped absolute path — doc file lists come from the
    Hadoop ``Path.toString`` (``file:/…``) while deletion vectors
    store Spark's ``_metadata.file_path`` (``file:///…``); comparing
    across the two needs one canonical spelling."""
    if "://" in p:
        p = p.split("://", 1)[1]
    elif p.startswith("file:"):
        p = p[len("file:"):]
    return "/" + p.lstrip("/")


def _last_clustered_marker(
    spark: SparkSession, table: str, base: int, doc: dict
) -> dict | None:
    """The most recent ``clustered`` stamp at-or-before ``base``
    (X161). The walk stops at the first full-replace version
    (overwrite/apply) without a stamp — files older than that cannot
    be live, so a deeper marker would intersect to nothing anyway;
    the liveness intersection in :func:`optimize` is the safety net,
    this stop only bounds the walk. Each step is one small JSON read
    — a maintenance-op cost."""
    v, d = base, doc
    while True:
        mk = d.get("clustered")
        if mk:
            return mk
        if v == 0 or (v != base and d["mode"] not in ("append", "delete")):
            return None
        v -= 1
        d = _version_doc(spark, table, v)


def optimize(
    spark: SparkSession,
    table: str,
    target_bytes: int = 128 * 1024 * 1024,
    stats_cols: list[str] | None = None,
    zorder_by: list[str] | None = None,
    curve: str | None = None,
    full: bool = False,
    min_file_bytes: int | None = None,
) -> dict:
    """Delta-style ``OPTIMIZE``: rewrite the CURRENT version's live
    rows into ~``target_bytes`` files and publish the result as a new
    OVERWRITE version — content-identical (a set-equality no-op for
    readers), but the small-files tax on every subsequent scan is
    paid down once. The write is pinned to the version it read
    (``expected_base`` semantics): a concurrent commit between the
    read and the publish raises :class:`CommitConflict` and nothing
    is lost — the old files stay live under the previous version
    either way until :func:`vacuum` reclaims them.

    Sizing rides :func:`~tableone_pyspark_spark.sources.compact.\
write_target_sized`'s sampled bytes-per-row estimate (one bounded
    driver sample + one write with ``maxRecordsPerFile`` — no
    shuffle; the coarse-partitioning caveat there applies).
    ``stats_cols`` re-records skipping statistics on the rewritten
    files. The default (``None``) re-records whatever column set the
    base version's stats doc already covers — a routine compaction
    must not silently degrade ``prune=`` reads (ADVICE r12); pass
    ``[]`` to explicitly drop stats, or a list to change the set.

    ``curve`` (r15): ``"zorder"`` (default, the Morton key) or
    ``"hilbert"`` — the Hilbert curve's consecutive cells are always
    unit-distance neighbors (no quadrant jumps), so the same file
    count spans tighter per-file rectangles (the layout behind
    Delta's liquid clustering); only meaningful with ``zorder_by``.

    X159 (Delta liquid clustering's ``CLUSTER BY``): when
    ``zorder_by`` is None, the table's persisted ``cluster.by`` /
    ``cluster.curve`` properties supply the defaults — the TABLE owns
    its clustering policy, so a bare ``optimize(table)`` from any
    maintenance job re-clusters correctly (the vacuum-property rule:
    explicit args always win; pass ``zorder_by=[]`` to explicitly
    opt out into a plain compaction).

    ``zorder_by`` (Delta's ``OPTIMIZE ... ZORDER BY``): lay the
    rewrite out by the Morton key over those columns (numeric,
    string, date, or timestamp — r15) instead
    of arrival order — each output file then spans a narrow min/max
    rectangle in EVERY listed column, which is exactly what
    ``stats_cols`` + ``read_version(prune=...)`` monetize (pass both;
    a z-ordered rewrite without stats skips nothing). File count =
    ceil(live bytes / target_bytes), one extra range shuffle.

    X164 (Delta's OPTIMIZE file-selection, opt-in): ``min_file_bytes``
    scopes a PLAIN compaction to files SMALLER than the threshold —
    already-target-sized files carry byte-identical with their stats,
    so routine compaction of a hot append table costs ∝ the small-file
    tail, not the table (pass ``target_bytes // 2``, Delta's
    minFileSize shape). Fewer than two small files (and no vectors)
    is a FREE no-op — one file re-written alone is pure churn.
    ``None`` (the default) keeps the full rewrite; DV-touched files
    are always rewritten; refused alongside ``zorder_by`` (clustered
    incrementality is marker-based, below).

    X161 (Delta's incremental clustering): a clustered rewrite stamps
    a ``clustered`` marker (physical columns + curve + file list) on
    the version it publishes; the NEXT clustered optimize with the
    SAME policy rewrites only the files added since — the marker's
    still-live, DV-untouched files carry BYTE-IDENTICAL into the new
    version, so routine bare ``optimize()`` under a persisted
    ``cluster.by`` costs ∝ new data, not table size (at 100 TB the
    difference between a nightly job and an impossibility). The
    carried files form their own clustered stratum: each file keeps
    its narrow per-column min/max rectangle, so ``prune=`` reads skip
    exactly as before; new data is clustered among itself (Delta's
    incremental OPTIMIZE makes the same trade — no global re-sort).
    ``full=True`` forces the whole-table rewrite (Delta's ``OPTIMIZE
    FULL``); a policy change (different columns or curve) does too.
    Files touched by a live deletion vector are always rewritten —
    the published version carries no vectors.

    Returns ``{version, n_input_files (rewritten), n_output_files,
    n_clustered_carried}``."""
    from tableone_pyspark_spark.sources.compact import write_target_sized

    if curve is not None and curve not in ("zorder", "hilbert"):
        raise ValueError(
            f"curve must be zorder/hilbert, got {curve!r}"
        )
    if target_bytes <= 0:
        # the zorder branch divides by this; the plain branch would
        # only catch it later inside write_target_sized
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    base = current_version(spark, table)
    if base is None:
        raise ValueError(f"no such versioned table: {table}")
    doc = _version_doc(spark, table, base)
    # X159: resolve clustering defaults from the table's persisted
    # policy — explicit args win, zorder_by=[] explicitly opts out
    props = doc.get("properties") or {}
    explicit_optout = zorder_by is not None and not zorder_by
    if zorder_by is None:
        zorder_by = _cluster_by_property(props) or None
    if curve is None and explicit_optout:
        # zorder_by=[] opts out of the whole persisted policy — the
        # property curve is only meaningful with clustering columns
        curve = "zorder"
    else:
        curve = curve or props.get("cluster.curve") or "zorder"
    if curve != "zorder" and not zorder_by:
        # a non-default curve with no clustering columns would fall
        # through to the arrival-order rewrite — the caller would
        # believe the table was Hilbert-clustered (ADVICE r15)
        raise ValueError(
            f"curve={curve!r} needs zorder_by columns (argument or "
            "the cluster.by property) — without them the rewrite is "
            "arrival-ordered, not clustered"
        )
    if stats_cols is None:
        # default to the column set the base version's stats doc
        # covers, so a routine compaction preserves skipping quality
        # instead of silently degrading every subsequent
        # read_version(prune=...) to a full file-list scan (ADVICE
        # r12). Pass stats_cols=[] to explicitly drop stats. Columns
        # no longer stats-able (schema drift) are filtered, not
        # raised — a default must never fail the maintenance op.
        from pyspark.sql.types import StructType

        seen = {c for st in (doc.get("stats") or {}).values() for c in st}
        schema = StructType.fromJson(json.loads(doc["schema"]))
        names = set(schema.fieldNames())
        stats_cols = sorted(
            c
            for c in seen
            if c in names
            and schema[c].dataType.simpleString() in _STATS_TYPES
        )
    if not doc["files"]:
        return {
            "version": base,
            "n_input_files": 0,
            "n_output_files": 0,
            "n_clustered_carried": 0,
        }
    dv = doc.get("dv") or []
    cm = _colmap(doc)  # X157: the rewrite stores physical names too
    zb_phys = [_phys(cm, c) for c in zorder_by] if zorder_by else []
    if min_file_bytes is not None:
        if zorder_by:
            raise ValueError(
                "min_file_bytes applies to PLAIN compaction only — a "
                "clustered optimize is already incremental via its "
                "clustered marker (X161); drop one of the two"
            )
        if min_file_bytes <= 0:
            raise ValueError(
                f"min_file_bytes must be positive, got {min_file_bytes}"
            )

    def _dv_touched() -> set:
        if not dv:
            return set()
        return {
            _norm_file(r[0])
            for r in _dv_frame(spark, dv)
            .select("__dv_fp")
            .distinct()
            .collect()
        }

    # X161: with an unchanged clustering policy, the last clustered
    # rewrite's still-live, DV-untouched files carry byte-identical —
    # only the files added since get rewritten. The marker compares
    # in PHYSICAL column space, so renames don't force a full rewrite.
    carried_clustered: list[str] = []
    if zorder_by and not full:
        marker = _last_clustered_marker(spark, table, base, doc)
        if (
            marker
            and marker.get("curve") == curve
            and marker.get("by") == zb_phys
        ):
            live = set(doc["files"])
            mfiles = [f for f in marker["files"] if f in live]
            if mfiles and dv:
                touched = _dv_touched()
                mfiles = [
                    f for f in mfiles if _norm_file(f) not in touched
                ]
            carried_clustered = mfiles
    # X164: opt-in size-threshold carry for plain compaction —
    # already-big, DV-untouched files are never candidates
    carried_compact: list[str] = []
    if min_file_bytes is not None and not full:
        touched = _dv_touched()
        carried_compact = [
            f
            for f in doc["files"]
            if _file_len(spark, f) >= min_file_bytes
            and _norm_file(f) not in touched
        ]
    carried_set = set(carried_clustered) | set(carried_compact)
    rewrite_files = [f for f in doc["files"] if f not in carried_set]
    carried_stats = {
        f: st
        for f, st in (doc.get("stats") or {}).items()
        if f in carried_set
    }
    nothing_to_do = not rewrite_files or (
        carried_compact and len(rewrite_files) < 2
    )
    if nothing_to_do and not dv:
        # everything live is already clustered/target-sized under this
        # policy (or one lone small file — re-writing it alone is pure
        # churn): the routine maintenance call is FREE (no publish)
        return {
            "version": base,
            "n_input_files": 0,
            "n_output_files": 0,
            "n_clustered_carried": len(carried_clustered),
            "n_compact_carried": len(carried_compact),
        }
    # read THROUGH the DV anti-join so deletion vectors are
    # materialized by the rewrite (the optimized version carries none)
    if carried_set:
        cur = _read_files(spark, rewrite_files, doc["schema"], cm)
        if dv:
            cur = _apply_dv(spark, cur, dv)
    else:
        cur = read_version(spark, table, base)
    # ONE emptiness probe (r17: this was re-evaluated at three sites,
    # each a fresh limit-1 job over the DV-anti-join view — guide §1.2,
    # don't compute things twice). With no live vectors the footers
    # answer it exactly with ZERO jobs (guide §5.3).
    cur_empty = None
    if not dv:
        n_rows = _footer_num_rows(spark, rewrite_files)
        if n_rows is not None:
            cur_empty = n_rows == 0
    if cur_empty is None:
        cur_empty = cur.isEmpty()
    if cur_empty and not carried_set:
        # every row is DV-deleted: the materialized table is empty —
        # publish an empty overwrite (the writers below would raise
        # on an empty frame; self-review r12)
        if current_version(spark, table) != base:
            raise CommitConflict(
                f"table {table} moved past v{base} during optimize — "
                "re-run on the new version"
            )
        _publish(spark, table, base + 1, [], "overwrite", doc["schema"])
        return {
            "version": base + 1,
            "n_input_files": len(doc["files"]),
            "n_output_files": 0,
            "n_clustered_carried": 0,
            "n_compact_carried": 0,
        }
    data_dir = f"{table}/data/{uuid.uuid4().hex}"
    cur_w = _to_physical(cur, cm)
    # X165: rewrites re-stamp the bloom policy's footers
    bloom_opts = _bloom_write_options(props, cm, doc["schema"])
    if cur_empty:
        # the whole rewrite set is DV-deleted but clustered files
        # survive: publish the carried layout alone (no data write)
        pass
    elif zorder_by:
        from tableone_pyspark_spark.sources.io import (
            write_hilbert_clustered,
            write_zordered,
        )

        live_bytes = sum(_file_len(spark, f) for f in rewrite_files)
        if dv:
            # raw file lengths include DV-deleted rows; scale by the
            # surviving fraction or a 90%-deleted table would get
            # ~10x too many undersized files (self-review r12). One
            # count over the small vectors + one over the
            # materialized view — maintenance-op cost. (All DV rows
            # target the rewrite set — carried files are DV-free.)
            n_del = _footer_num_rows(spark, dv)
            if n_del is None:
                n_del = spark.read.parquet(*dv).count()
            n_live = cur.count()
            if n_live + n_del > 0:
                live_bytes = int(live_bytes * n_live / (n_live + n_del))
        n_files = max(1, -(-live_bytes // target_bytes))
        if curve == "hilbert":
            write_hilbert_clustered(
                cur_w, data_dir, zb_phys, n_files=int(n_files),
                mode="errorifexists", options=bloom_opts or None,
            )
        else:
            write_zordered(
                cur_w, data_dir, zb_phys, n_files=int(n_files),
                mode="errorifexists", options=bloom_opts or None,
            )
    else:
        # coalesce the scan to ~ceil(bytes/target) partitions first
        # (no shuffle): the file scan's bin-packing splits by
        # bytes-per-core, so on a many-core driver a small-file set
        # would otherwise re-emerge as one file PER SPLIT and the
        # compaction never actually collapses (self-review r17);
        # maxRecordsPerFile inside write_target_sized stays the
        # safety SPLITTER for underestimated rows. DV-deleted bytes
        # inflate the estimate — more, smaller files, the safe side.
        rewrite_bytes = sum(
            _file_len(spark, f) for f in rewrite_files
        )
        n_out = max(1, -(-rewrite_bytes // target_bytes))
        write_target_sized(
            cur_w.coalesce(int(n_out)), data_dir, target_bytes,
            mode="errorifexists", **bloom_opts,
        )
    new_files = [] if cur_empty else _list_parquet(spark, data_dir)
    stats = (
        _remap_stats(
            _collect_file_stats(spark, new_files, stats_cols, cm),
            new_files,
        )
        if stats_cols and new_files
        else None
    )
    marker_out = (
        {"by": zb_phys, "curve": curve,
         "files": new_files + carried_clustered}
        if zorder_by
        else None
    )
    # r15 — maintenance-vs-ingest concurrency (Delta's conflict
    # matrix for OPTIMIZE): a long rewrite on a hot table always
    # loses the slot to blind appends; since appends only ADD files,
    # the rewrite stays valid — rebase by publishing (rewrite output
    # + the interleaved appends' new files) at the new head, with the
    # HEAD's schema (an interleaved additive evolution NULL-fills the
    # rewritten old-shape files by name, X152). Anything that touched
    # the rows we rewrote (overwrite / DV delete / merge — their
    # vectors or replacements target the files this rewrite
    # materialized) still raises: the rewrite is stale.
    head = base
    base_files = set(doc["files"])
    base_dv = doc.get("dv") or []
    for attempt in range(APPEND_REBASE_RETRIES):
        try:
            if head == base:
                _publish(
                    spark, table, base + 1,
                    new_files + carried_clustered + carried_compact,
                    "overwrite", doc["schema"],
                    stats={**(stats or {}), **carried_stats} or None,
                    clustered=marker_out,
                )
                carried: list[str] = []
            else:
                hdoc = _version_doc(spark, table, head)
                carried = [
                    f for f in hdoc["files"] if f not in base_files
                ]
                hstats = {
                    f: st
                    for f, st in (hdoc.get("stats") or {}).items()
                    if f in set(carried)
                }
                _publish(
                    spark, table, head + 1,
                    new_files + carried_clustered + carried_compact
                    + carried,
                    "overwrite", hdoc["schema"],
                    stats={**(stats or {}), **carried_stats, **hstats}
                    or None,
                    clustered=marker_out,
                )
            return {
                "version": (base if head == base else head) + 1,
                "n_input_files": len(rewrite_files),
                "n_output_files": len(new_files),
                "n_carried_files": len(carried),
                "n_clustered_carried": len(carried_clustered),
                "n_compact_carried": len(carried_compact),
            }
        except CommitConflict:
            _rebase_backoff(attempt)  # before the head re-read
            nh = current_version(spark, table)
            if nh is None or nh <= head:
                raise
            for v in range(base + 1, nh + 1):
                d = _version_doc(spark, table, v)
                if (
                    d["mode"] != "append"
                    or (d.get("dv") or []) != base_dv
                    or d.get("schema_change")
                ):
                    # schema_change (X157): an interleaved rename/drop
                    # is a metadata change our rewrite's stats keys
                    # and schema predate — Delta's conflict matrix
                    # fails OPTIMIZE against metadata changes too
                    raise CommitConflict(
                        f"table {table} moved past v{base} during "
                        "optimize with a non-append change "
                        f"(v{v} is {d['mode']!r}"
                        + (
                            " + schema_change"
                            if d.get("schema_change")
                            else ""
                        )
                        + ") — the rewrite is stale; re-run on the "
                        "new version"
                    ) from None
            head = nh
    raise CommitConflict(
        f"optimize of {table} lost {APPEND_REBASE_RETRIES} consecutive "
        "slot races — pathological contention; retry with backoff"
    )
