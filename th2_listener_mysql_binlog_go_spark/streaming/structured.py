"""Structured Streaming shell: readStream -> foreachBatch(apply).

The event-driven counterpart of :mod:`.runner` (which plans batches by
GTID range itself). Here Spark's streaming engine does source tracking:
``readStream`` tails the change-event directory (new parquet files =
new binlog segments), ``maxFilesPerTrigger`` paces micro-batches, the
checkpointLocation persists source offsets, and ``foreachBatch`` hands
each micro-batch to the same :class:`BatchApplier` used in batch replay.

One epoch handler serves all four apply shells (parquet and wire, one
table and a catalog): it pins the handoff, persists the micro-batch,
splits off undecodable wire messages when a quarantine dir is set,
applies, writes lineage and refreshes views. Table and catalog shells
differ only in the apply call, ``_handoff_state`` and the view refresh;
parquet and wire shells only in their reader (:func:`_read_source`).

Exactly-once composition: Structured Streaming replays the last
in-flight epoch after a crash with the *same* epoch id; the applier's
monotonic sub-batch guard (epoch_id * 1024 + segment vs the table's
``last_batch_id``) turns that replay into a no-op prefix, and LWW on
``_gtid`` makes even forced re-merges converge. This mirrors — and
strengthens — the reference's resume-from-last-published-position loop
(/root/reference/component/listener/listener.go:85-227), which can
re-emit events (at-least-once) where we cannot.

Backfill -> tail handoff: a table bootstrapped by ReplayRunner (archive
backfill) can be handed to this shell with ``start(...,
resume_from_table=True)`` — the canonical CDC journey (the reference
resumes from its saved position into live tailing, listener.go:85-227).
The two runners use different batch-id sequences (gtid-span ``k`` vs
Spark epoch ids), so a naive handoff would let the table's
``last_batch_id`` guard silently SKIP early epochs; ``resume_from_table``
pins an *epoch base* (one past the backfill's last sub-batch) and a
*gtid floor* (the backfill's watermark — exact, because ReplayRunner
applies gtid-contiguously) in ``<checkpoint_dir>/handoff.json`` at first
start, so streamed sub-ids always exceed the backfill's and the
archive/live overlap is filtered instead of re-appended. The pin is
first-writer-wins and read back on every restart: the floor never moves
even as the watermark advances (a later file-paced epoch may legally
carry older-gtid events). Without the flag, behavior is unchanged — a
table fed by one shell from a fresh checkpoint.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.apply import ApplyConfig, BatchApplier
from ..plans.lake import LakeTable
from .lineage import LineageWriter

# How long a shell's stop() waits for the in-flight foreachBatch to return.
_STOP_TIMEOUT_S = 300.0


def _pin_handoff(checkpoint_dir: str, base: int, floor: int) -> tuple[int, int]:
    """Pin ``(epoch_base, gtid_floor)`` in ``<checkpoint_dir>/handoff.json``
    — written BEFORE the query starts (no epoch can commit first), atomic
    and first-writer-wins (``os.link`` of a fully-written temp file), read
    back verbatim on every restart of the same checkpoint."""
    path = os.path.join(checkpoint_dir, "handoff.json")
    try:
        with open(path) as f:
            d = json.load(f)
        return int(d["epoch_base"]), int(d["gtid_floor"])
    except FileNotFoundError:
        pass
    os.makedirs(checkpoint_dir, exist_ok=True)
    # unique temp name: a fixed one would let a racing first start truncate
    # the inode already hard-linked to handoff.json (empty pin = bricked
    # checkpoint) — same discipline as _write_snapshot's HEAD swap
    import uuid as _uuid

    tmp = f"{path}.tmp.{_uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"epoch_base": base, "gtid_floor": floor}, f)
    try:
        os.link(tmp, path)
    except FileExistsError:
        with open(path) as f:
            d = json.load(f)
        return int(d["epoch_base"]), int(d["gtid_floor"])
    finally:
        os.unlink(tmp)
    return base, floor


def _resolve_streaming_config(config: ApplyConfig | None) -> ApplyConfig:
    """Shared shell-config resolution: file-paced epochs may interleave
    gtid ranges, so a compaction that folds winning DELETEs away would
    let a late older insert resurrect the key — keep tombstones unless
    the caller chose explicitly (ReplayRunner's gtid-contiguous batches
    don't need them)."""
    config = config or ApplyConfig()
    if config.compact_keep_tombstones is None:
        from dataclasses import replace

        config = replace(config, compact_keep_tombstones=True)
    return config


def _handoff_filtered(stream, gtid_floor: int):
    """Drop the archive/live overlap (everything the backfill already
    applied) while keeping what must never be watermark-filtered:
    TRUNCATE markers — pre-classified OR still QUERY-shaped (the wire
    carries raw statements; the marker only commits with its batch's
    FINAL segment, so a mid-batch-crash backfill can leave an
    uncommitted TRUNCATE below the floor) — and undecodable messages
    bound for the dead-letter queue. Re-applying a truncate is always
    safe (monotonic-max marker); QUERY-shaped schema/catalog DDL at or
    below the floor stays filtered (the completed prefix applied it, and
    re-applying only part of a CREATE/DROP pair could resurrect a
    dropped table)."""
    from ..functions.ddl import SPARK_PATTERNS

    keep = (F.col("gtid") > gtid_floor) | (F.col("op") == "TRUNCATE")
    if "ddl" in stream.columns:
        keep = keep | (
            (F.col("op") == "QUERY")
            & F.coalesce(F.col("ddl"), F.lit("")).rlike(
                SPARK_PATTERNS["TRUNCATE"][0]))
    if "_undecodable" in stream.columns:
        keep = keep | F.col("_undecodable")
    return stream.filter(keep)


def _quarantine_namespace(checkpoint_dir: str) -> str:
    """Stable per-stream namespace for the dead-letter layout: the
    streaming query id Spark persists in ``<checkpoint>/metadata`` (the
    same id across every restart of that checkpoint; a RESET checkpoint
    gets a fresh id, so its epoch counter restarting at 0 cannot clobber
    a predecessor's envelopes). Falls back to a hash of the checkpoint
    path when the metadata file is absent (e.g. the split is driven
    outside a streaming query) — still distinct per checkpoint."""
    import hashlib
    import json as _json

    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            qid = _json.load(f).get("id")
        if qid:
            return str(qid)
    except (OSError, ValueError):
        pass
    return hashlib.md5(
        os.path.realpath(checkpoint_dir).encode()).hexdigest()[:16]


def _quarantine_split(pinned, quarantine_dir: str, epoch_id: int, ns: str):
    """Dead-letter the epoch's undecodable wire messages (flagged by
    ``decode_stream(quarantine=True)``) to ``quarantine_dir`` as parquet
    envelopes (position + raw payload + reason), and return the
    well-formed slice for apply. EXACTLY-once to match the table: each
    epoch owns the hive dir ``ckpt=<ns>/epoch=<id>`` and writes it with
    OVERWRITE semantics, so a crash-replayed epoch replaces its own
    envelopes instead of appending duplicates (epoch ids are stable
    across restarts — Spark re-delivers the in-flight epoch under the
    same id, and the handoff base is pinned). ``ns`` (the stream's
    :func:`_quarantine_namespace`) keeps the overwrite scoped to ONE
    stream: without it, a second ingest sharing the dir — or the same
    pipeline restarted on a fresh checkpoint — restarts epoch ids at 0
    and would silently destroy a predecessor's untriaged envelopes.
    Clean epochs (no flagged rows — the count rides the
    already-persisted batch) write nothing, so a long-running healthy
    tail leaves no empty-dir litter. Read the feed with
    ``spark.read.parquet(quarantine_dir)``; ``ckpt`` and ``epoch``
    surface as partition columns."""
    bad = pinned.filter(F.col("_undecodable"))
    if bad.count() > 0:  # materializes the persist; the write reuses it
        if os.path.isdir(quarantine_dir):
            stray = [e for e in os.listdir(quarantine_dir)
                     if not e.startswith(("ckpt=", ".", "_"))]
            if stray:
                raise ValueError(
                    f"quarantine_dir {quarantine_dir!r} holds entries "
                    f"outside the ckpt=<id>/epoch=<n> layout ({stray[:3]}"
                    f"{'...' if len(stray) > 3 else ''}) — a pre-namespace "
                    "DLQ; move those envelopes aside (mixed depths break "
                    "parquet partition discovery) before reusing the dir")
        (bad.select("gtid", "log_name", "log_pos", "seq", "ts",
                    F.col("_payload").alias("payload"),
                    F.col("_reason").alias("reason"))
         .write.mode("overwrite")
         .parquet(os.path.join(quarantine_dir, f"ckpt={ns}",
                               f"epoch={int(epoch_id)}")))
    return (pinned.filter(~F.col("_undecodable"))
            .drop("_undecodable", "_reason", "_payload"))


# Position metadata the reference attaches to every published message
# (name/pos/seq/timestamp, the reference's component/listener/listener.go:325-332)
# plus the serialized bean payload itself. part_idx identifies the part of a
# split oversized event (batched publisher); unbatched producers omit it and
# the JSON reader fills NULL, which decode_stream treats as part 0.
WIRE_SCHEMA = ("gtid bigint, log_name string, log_pos bigint, part_idx int, "
               "seq bigint, ts bigint, payload string")


def _read_source(spark: SparkSession, source_dir: str,
                 max_files_per_trigger: int | None,
                 schema_ddl: str | None = None, row_ddl: str | None = None,
                 quarantine: bool = False):
    """Tail ``source_dir``: CHANGE_SCHEMA-shaped parquet read under
    ``schema_ddl`` when given, else JSON-lines wire payloads (WIRE_SCHEMA
    envelope) decoded to change rows of ``row_ddl`` (default: the
    repo-table shape) by :func:`~..sources.rawjson.decode_stream` — pure
    Catalyst ``from_json`` + explode inside the streaming plan."""
    reader = spark.readStream.schema(schema_ddl or WIRE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if schema_ddl is not None:
        return reader.parquet(source_dir)
    from ..sources.rawjson import _ROW_DDL, decode_stream

    return decode_stream(reader.json(source_dir), row_ddl or _ROW_DDL,
                         quarantine=quarantine)


# Spark 4.1's StreamExecution reads a failed foreachBatch as a stop iff its
# Py4J error message matches PROXY_ERROR: this prefix, anything, then one of
# these interrupt class names. The ``(.|\r\n|\r|\n)*`` between them
# recurses once per character, so a message carrying a long Java stack
# kills the stream thread with StackOverflowError and hides the cause.
_PROXY_ERROR_PREFIX = "py4j.protocol.Py4JJavaError: An error occurred while calling"
_INTERRUPTS = ("java.lang.InterruptedException", "java.io.InterruptedIOException",
               "java.nio.channels.ClosedByInterruptException")


def _root_cause(exc: BaseException) -> str:
    """``Type: first line`` of the innermost exception of ``exc``'s chain;
    for a Py4J error, the Java exception's line, not the call's."""
    while exc.__cause__ is not None or exc.__context__ is not None:
        exc = exc.__cause__ or exc.__context__
    lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
    if len(lines) > 1 and "An error occurred while calling" in lines[0]:
        lines = lines[1:]
    first = lines[0].lstrip(": ")[:200] if lines else ""
    return f"{type(exc).__name__}: {first}"


class EpochRefused(RuntimeError):
    """An epoch the stopping shell refused before applying anything (see
    :meth:`StreamingApplier.stop`): already short, it reaches Spark as is."""


def _short_errors(handle, epoch_base: int = 0):
    """``handle`` whose failures reach Spark as one short error.

    A refused epoch passes through unchanged. Any other failure prints
    its full traceback to stderr. An interrupted epoch (its traceback
    names an interrupt class, Spark's own criterion) then re-raises with a
    message that still matches PROXY_ERROR, so Spark still reads it as a
    stop; anything else re-raises naming the epoch and the root cause.
    Both messages stay a few hundred characters and name the epoch as the
    shell does (Spark's id plus ``epoch_base``)."""
    def guarded(batch_df, epoch_id: int) -> None:
        try:
            handle(batch_df, epoch_id)
        except EpochRefused:
            raise
        except Exception as e:
            tb = traceback.format_exc()
            sys.stderr.write(tb)
            epoch = int(epoch_id) + epoch_base
            name = next((n for n in _INTERRUPTS if n in tb), None)
            if name is not None:
                raise RuntimeError(f"{_PROXY_ERROR_PREFIX} foreachBatch: epoch "
                                   f"{epoch} interrupted ({name})") from None
            raise RuntimeError(f"epoch {epoch} failed: {_root_cause(e)} "
                               "(full traceback on stderr)") from None
    return guarded


def _foreach_batch(stream, handle, checkpoint_dir: str,
                   available_now: bool, epoch_base: int = 0) -> StreamingQuery:
    writer = (
        stream.writeStream.foreachBatch(_short_errors(handle, epoch_base))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class StreamingApplier:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        config: ApplyConfig | None = None,
        lineage_dir: str | None = None,
        views: list | None = None,
        view_refresh_every: int = 1,
    ):
        """``views``: IncrementalAggViews over ``table`` to maintain
        INSIDE the micro-batch loop — each epoch's commit is followed by
        an incremental ``refresh()``, so rollups stay fresh while the
        tail runs (continuous-aggregate maintenance). Crash-safe by
        construction: a crash between the table commit and a view
        refresh self-heals, because the next epoch's refresh advances
        from the view's own persisted watermark (snapshot versions, not
        epoch ids) and therefore covers the missed window. Each view is
        REBOUND to a LIVE table handle: a view loaded over a different
        LakeTable instance would watch a frozen snapshot and silently
        skip every refresh. A view may source this applier's table OR
        another listed view's table (rollup chains); refreshes run in
        dependency order (:func:`~..plans.matview.refresh_all`), so one
        epoch moves the whole chain to a consistent cut.

        Cost note: file-paced epochs interleave gtid ranges, which fails
        the changelog's incremental-soundness gate, so per-epoch
        refreshes of such a tail run the O(table) diff plan — correct,
        but a full read per trigger on a big table. ``view_refresh_every
        = N`` refreshes every Nth epoch instead (the final window is
        covered by the next run's first refresh, or a manual one);
        gtid-ordered sources keep the O(changes) plan at every epoch."""
        self.spark = spark
        self.table = table
        config = _resolve_streaming_config(config)
        self.applier = BatchApplier(table, config)
        self.lineage = LineageWriter(lineage_dir) if lineage_dir else None
        self.views = list(views or [])
        self.view_refresh_every = max(1, view_refresh_every)
        self._arm_stop()
        by_view_root = {os.path.realpath(v.table.root): v for v in self.views}
        for v in self.views:
            src = os.path.realpath(v.source.root)
            if src == os.path.realpath(table.root):
                v.source = table  # live handle: advances with OUR commits
            elif src in by_view_root:
                # chained rollup: the upstream view's table handle is the
                # live one (it advances with that view's refresh commits)
                v.source = by_view_root[src].table
            else:
                raise ValueError(
                    f"view {v.table.root} tracks {v.source.root!r}, which is "
                    f"neither this applier's table {table.root!r} nor another "
                    "listed view's table")

    def start(
        self,
        source_dir: str,
        checkpoint_dir: str,
        schema_ddl: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
        resume_from_table: bool = False,
    ) -> StreamingQuery:
        """Tail ``source_dir`` (parquet change events, CHANGE_SCHEMA shape)
        and apply each micro-batch. ``available_now=True`` drains what
        exists and stops — the batch-replay-of-a-stream mode; otherwise
        runs continuously. ``resume_from_table=True`` hands off a target
        bootstrapped by a replay runner (see module docstring): epoch ids
        offset past the backfill's sub-batches, and DML at or below the
        backfill watermark is filtered (TRUNCATE markers pass — their
        merge is monotonic-max, replay-safe)."""
        stream = _read_source(self.spark, source_dir, max_files_per_trigger,
                              schema_ddl=schema_ddl)
        return self._start(stream, checkpoint_dir, available_now,
                           resume_from_table=resume_from_table)

    # ------------------------------------------------- single-table hooks

    def _handoff_state(self) -> tuple[int, int]:
        """(epoch_base, gtid_floor) from the table's own checkpoint state:
        one past the last committed sub-batch, and the applied watermark
        (gtid-contiguous by ReplayRunner's construction)."""
        t = self.applier.table
        base = t.last_batch_id // 1024 + 1 if t.last_batch_id >= 0 else 0
        return base, t.watermark_gtid

    def _apply_epoch(self, batch_df, epoch_id: int) -> dict:
        return self.applier.apply(
            batch_df, batch_id=epoch_id,
            final_extra_props={"last_complete_batch": str(epoch_id)})

    def _refresh_views(self) -> None:
        from ..plans.matview import refresh_all

        refresh_all(self.views)

    # ------------------------------------------------- the epoch handler

    def _arm_stop(self) -> None:
        """Reset the stop handshake: no epoch in flight, none refused."""
        self._epoch_cv = threading.Condition()
        self._in_epoch = self._stopping = False
        self.refused_epoch = None

    def stop(self, query: StreamingQuery) -> None:
        """Stop ``query`` between epochs: wait up to ``_STOP_TIMEOUT_S`` for
        the in-flight ``foreachBatch`` to return, then ``query.stop()``.

        A bare ``query.stop()`` interrupts an in-flight epoch and throws
        away its work (the epoch replays on the next start; the handler
        reports the interrupt so Spark reads it as a stop). An epoch the
        engine starts after the wait (a file landed meanwhile) is refused:
        the handler raises before it applies anything, so its offsets
        replay on the next start. That ends the query with the refusal as its
        ``exception()`` and Spark logs it as an error; ``refused_epoch``
        then names the epoch, and a caller treats that exception as a
        clean stop."""
        with self._epoch_cv:
            self._stopping = True
            self._epoch_cv.wait_for(lambda: not self._in_epoch, _STOP_TIMEOUT_S)
        query.stop()

    def _start(self, stream, checkpoint_dir: str, available_now: bool,
               resume_from_table: bool = False,
               quarantine_dir: str | None = None) -> StreamingQuery:
        self._arm_stop()
        epoch_base, gtid_floor = (0, -1)
        if resume_from_table:
            epoch_base, gtid_floor = _pin_handoff(
                checkpoint_dir, *self._handoff_state())
        if gtid_floor >= 0:
            # archive/live overlap must not re-append (it would pollute
            # key_history and lineage); see _handoff_filtered for what is
            # exempt and why
            stream = _handoff_filtered(stream, gtid_floor)

        def handle(batch_df, epoch_id: int) -> None:
            epoch_id = int(epoch_id) + epoch_base
            with self._epoch_cv:
                if self._stopping:
                    self.refused_epoch = epoch_id
                    raise EpochRefused(
                        f"epoch {epoch_id} not applied: the shell is stopping "
                        "(it replays on the next start)")
                self._in_epoch = True
            try:
                t0 = time.monotonic()
                # pin the micro-batch: the apply consumes it at least twice
                # (the DDL-candidate collect, then every segment's or pair's
                # flatten) and for the wire shells each pass would otherwise
                # re-run the from_json decode of the whole epoch
                pinned = batch_df.persist()
                try:
                    if quarantine_dir is not None:
                        batch_df = _quarantine_split(
                            pinned, quarantine_dir, epoch_id,
                            _quarantine_namespace(checkpoint_dir))
                    else:
                        batch_df = pinned
                    m = self._apply_epoch(batch_df, epoch_id)
                finally:
                    pinned.unpersist()
                if self.lineage:
                    self.lineage.write_batch(epoch_id, m, int((time.monotonic() - t0) * 1000))
                if self.views and epoch_id % self.view_refresh_every == 0:
                    self._refresh_views()
            finally:
                with self._epoch_cv:
                    self._in_epoch = False
                    self._epoch_cv.notify_all()

        return _foreach_batch(stream, handle, checkpoint_dir, available_now,
                              epoch_base)


class StreamingWireApplier(StreamingApplier):
    """Streaming ingest of the reference's PUBLISHED surface: serialized
    bean-JSON payloads (listener.go:296-315; golden bodies README.md:
    109-240) landing as JSON-lines files — the Spark-native stand-in for
    the MQ a real deployment tails. ``readStream`` tracks the files,
    :func:`~..sources.rawjson.decode_stream` (pure Catalyst ``from_json``
    + explode, inside the streaming plan, JVM-side) turns payloads back
    into CHANGE_SCHEMA rows, and the same ``foreachBatch`` apply loop
    merges them — so a consumer of the reference's queue output can point
    this at its archive and get the identical lake state the parquet-fed
    shells produce (oracle-checked: ``cdc_wire_stream_replay`` hashes
    against the ``cdc_replay_final_state`` oracle).

    Exactly-once composition is inherited: the streaming engine replays
    the in-flight epoch with the same id after a crash; the applier's
    sub-batch guard no-ops the replayed prefix."""

    def start(
        self,
        source_dir: str,
        checkpoint_dir: str,
        row_ddl: str | None = None,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
        resume_from_table: bool = False,
        quarantine_dir: str | None = None,
    ) -> StreamingQuery:
        """Tail ``source_dir`` (JSON-lines wire payloads, WIRE_SCHEMA
        envelope) and apply each micro-batch. ``row_ddl`` is the row
        struct of the observed table(s) (defaults to the repo-table shape).
        ``resume_from_table`` hands off a table or catalog bootstrapped by
        a replay runner (module docstring); the floor filters the DECODED
        stream.
        ``quarantine_dir`` dead-letters undecodable messages there as
        parquet envelopes instead of silently dropping them (the
        reference logs-and-skips; see :func:`_quarantine_split`)."""
        stream = _read_source(self.spark, source_dir, max_files_per_trigger,
                              row_ddl=row_ddl, quarantine=quarantine_dir is not None)
        return self._start(stream, checkpoint_dir, available_now,
                           resume_from_table=resume_from_table,
                           quarantine_dir=quarantine_dir)


class StreamingCatalogApplier(StreamingApplier):
    """Multi-table streaming shell: the same foreachBatch loop fanned out
    over a :class:`~..plans.catalog.LakeCatalog` — every observed
    (schema, table) pair applies per epoch, CREATE/DROP TABLE execute in
    GTID order (see :class:`~..operators.multi.MultiTableApplier`).
    ``resume_from_table=True`` hands off a catalog bootstrapped by
    CatalogReplayRunner: the epoch base clears EVERY table's last
    sub-batch, the gtid floor is the catalog's replay watermark, and
    catalog DDL at or below the floor is filtered like DML (re-applying
    part of a CREATE/DROP pair could resurrect a dropped table)."""

    def __init__(
        self,
        spark: SparkSession,
        catalog,
        config: ApplyConfig | None = None,
        lineage_dir: str | None = None,
        views: list | None = None,
        view_refresh_every: int = 1,
    ):
        """``views``: IncrementalAggViews maintained inside the
        micro-batch loop, like the single-table shell — except here
        ``catalog.get`` returns a FRESH LakeTable per call, so a view
        cannot hold one live handle; instead each refresh cycle REBINDS
        every view to a freshly loaded source (one snapshot-JSON read
        per view per cycle — O(metadata)). A view may source any
        catalog table or another listed view (rollup chains,
        dependency-ordered via refresh_all). The source's registry dir
        is pinned at construction: a DROP TABLE + CREATE TABLE recycle
        changes the dir and the rebind refuses (the new incarnation's
        version counter restarts — refreshing across it would silently
        misread the changelog window)."""
        from ..operators.multi import MultiTableApplier

        self.spark = spark
        config = _resolve_streaming_config(config)
        self.applier = MultiTableApplier(catalog, config)
        self.lineage = LineageWriter(lineage_dir) if lineage_dir else None
        self.views = list(views or [])
        self.view_refresh_every = max(1, view_refresh_every)
        self._arm_stop()
        self._by_view_root = {
            os.path.realpath(v.table.root): v for v in self.views}
        dir_to_pair = {
            os.path.realpath(os.path.join(catalog.root, e["dir"])): k
            for k, e in catalog.registry["tables"].items()
            if not e.get("dropped")
        }
        self._view_sources: dict[str, tuple[str, str, str]] = {}
        for v in self.views:
            src = os.path.realpath(v.source.root)
            if src in self._by_view_root:
                self._view_sources[os.path.realpath(v.table.root)] = ("view", src, "")
            elif src in dir_to_pair:
                self._view_sources[os.path.realpath(v.table.root)] = (
                    "table", src, dir_to_pair[src])
            else:
                raise ValueError(
                    f"view {v.table.root} tracks {v.source.root!r}, which is "
                    "neither a live table of this catalog nor another "
                    "listed view's table")

    def _rebind_and_refresh_views(self) -> None:
        from ..plans.matview import refresh_all

        cat = self.applier.catalog
        for v in self.views:
            kind, src, pair = self._view_sources[os.path.realpath(v.table.root)]
            if kind == "view":
                v.source = self._by_view_root[src].table
                continue
            ent = cat.registry["tables"].get(pair)
            if (ent is None or ent.get("dropped")
                    or os.path.realpath(os.path.join(cat.root, ent["dir"])) != src):
                raise RuntimeError(
                    f"view {v.table.root} source {pair} was dropped or "
                    "recycled mid-stream (new incarnation, fresh version "
                    "counter) — rebuild the view over the new table")
            v.source = LakeTable.load(self.spark, src)
        refresh_all(self.views)

    _refresh_views = _rebind_and_refresh_views

    def _handoff_state(self) -> tuple[int, int]:
        """The catalog's replay watermark only advances AFTER a whole
        batch's per-table merges commit, so a backfill that crashed
        between a table merge and the progress update leaves table state
        PAST the watermark — a floor pinned there would let the tail
        re-append the already-applied tail of that batch (duplicate
        audit/changelog rows). Detectable exactly: on clean completion
        the catalog watermark covers every event, so any table watermark
        above it proves a mid-batch crash — refuse and ask the caller to
        resume the backfill to completion first."""
        cat = self.applier.catalog
        floor = int(cat.properties.get("watermark_gtid", "-1"))
        last = -1
        for name in cat.list_tables():
            schema, table = name.split(".", 1)
            t = cat.get(schema, table)
            if t is not None:
                last = max(last, t.last_batch_id)
                if t.watermark_gtid > floor:
                    raise ValueError(
                        f"catalog backfill is mid-batch: table {name} has "
                        f"applied gtids up to {t.watermark_gtid}, past the "
                        f"catalog watermark {floor} — resume "
                        "CatalogReplayRunner.run() to completion before "
                        "handing off to streaming"
                    )
        base = last // 1024 + 1 if last >= 0 else 0
        return base, floor

    def _apply_epoch(self, batch_df, epoch_id: int) -> dict:
        return self.applier.apply(batch_df, batch_id=epoch_id)


class StreamingWireCatalogApplier(StreamingCatalogApplier):
    """Multi-table consumer of the published wire format: readStream over
    JSON-lines bean payloads -> :func:`~..sources.rawjson.decode_stream`
    inside the streaming plan -> the catalog fan-out foreachBatch loop
    (routing, CREATE/DROP in gtid order, per-pair parallel staging).

    ``row_ddl`` must be the UNION of the observed tables' row structs:
    ``from_json`` fills fields a payload lacks with NULL, and each table's
    merge projects leniently onto its own columns, so heterogeneous tables
    share one decode pass."""

    # the wire reader is the single-table wire shell's; only the apply
    # hooks (inherited from StreamingCatalogApplier) differ
    start = StreamingWireApplier.start


class StreamingWirePublisher:

    """The reference's PRODUCING role, Spark-native: tail a CHANGE_SCHEMA
    parquet directory (binlog segments) and PUBLISH size-bounded bean-JSON
    wire payloads as JSON-lines files — the directory-as-queue analogue of
    the reference's batcher + MQ pipe (putToBatch listener.go:265-294,
    publish listener.go:296-315). Each micro-batch runs the full S8/S9/S10
    pipeline (:func:`~..sources.rawjson.encode_stream_batched`: one bean
    per RowsEvent, oversized INSERT/DELETE events split greedily under
    ``max_size``) inside ``foreachBatch`` — the encoder's groupBy/
    mapInPandas are batch ops, mirroring the reference's per-sync-loop
    batching.

    Delivery: at-least-once, matching the reference (its resume from the
    last *published* message can re-emit, README/listener.go:198-227): a
    crash between a payload write and the checkpoint commit republishes
    that epoch. Payloads are keyed by ``(gtid, log_pos, part_idx)``, so
    consumers dedup exactly — this engine's own apply side already does
    (LWW on (_gtid, _seq) + batch-id guards make re-consumption a no-op).

    ``split_mode='cumsum'`` by default (round-4 review #6): the publisher
    runs the split kernel once per MICRO-BATCH, so the greedy variant's
    per-row Python ``mapInPandas`` pass would sit on the hot path forever;
    the prefix-sum plan is whole-stage codegen with the same never-oversize
    guarantee (see :func:`~..functions.split.split_plan_cumsum` — it only
    fragments slightly more). Pass ``split_mode='greedy'`` for bean.go's
    exact packing."""

    def __init__(self, spark: SparkSession, max_size: int = 1 << 20,
                 base_size: int = 96, split_mode: str = "cumsum"):
        self.spark = spark
        self.max_size = max_size
        self.base_size = base_size
        self.split_mode = split_mode

    def start(
        self,
        source_dir: str,
        out_dir: str,
        checkpoint_dir: str,
        schema_ddl: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
    ) -> StreamingQuery:
        from ..sources.rawjson import encode_stream_batched

        def handle(batch_df, epoch_id: int) -> None:
            (
                encode_stream_batched(batch_df, self.max_size, self.base_size,
                                      split_mode=self.split_mode)
                .write.mode("append").json(out_dir)
            )

        stream = _read_source(self.spark, source_dir, max_files_per_trigger,
                              schema_ddl=schema_ddl)
        return _foreach_batch(stream, handle, checkpoint_dir, available_now)


class ChangesFeedPublisher:
    """Full-circle CDC: re-publish a LakeTable's OWN snapshot history as
    the reference's wire format. The binlog fed the table; each
    :meth:`poll` turns the snapshot versions committed since the last
    poll into a `changes()` window, shapes it as CHANGE_SCHEMA (Update
    beans carry the real Before image via ``with_before``), and runs the
    same S8/S9/S10 encode pipeline the binlog publisher uses
    (`encode_stream_batched` — one bean per change, size-bounded splits)
    into a JSON-lines directory-as-queue.

    This is the sync loop of the reference (listener.go:85-192) with the
    lake as the source instead of MySQL: the feed watermark is the last
    PUBLISHED snapshot version, persisted atomically in
    ``out_dir/_feed_progress.json``. Delivery is at-least-once (a crash
    between the payload write and the progress swap re-publishes the
    window; payloads are keyed by the full event identity (gtid, log_pos,
    schema, table, op, part_idx) — under the version clock the position
    pair alone is NOT unique within a poll — so consumers, including
    this engine's own apply side, dedup exactly).

    **Position clock = snapshot versions.** Published ``gtid`` is the
    window's TO-version, not the source gtid: versions are the lake's
    true linearization (each poll's window is (from_v, to_v], one net row
    per key), so later polls strictly outrank earlier ones at any LWW
    consumer — sound for every window shape, including gtid-interleaved
    sources and correction commits. Source gtids cannot be republished
    soundly: a diff-plan DELETE knows only its BEFORE image's position
    (the deciding delete event may be folded away), and a DELETE stamped
    there loses the consumer's LWW to the consumer's own copy of that
    row. ``log_pos`` carries the source event slot (``_seq >> 21``) for
    bean batching and trace value only.

    Scale shape: each poll costs O(changes in the window) via the
    incremental changelog plan; a window broken by compaction/rebucket
    falls back to the documented full-diff (mode='auto')."""

    def __init__(self, spark: SparkSession, table_root: str, out_dir: str,
                 schema_name: str = "repos", table_name: str = "files",
                 max_size: int = 1 << 20, base_size: int = 96,
                 split_mode: str = "cumsum", mode: str = "auto"):
        self.spark = spark
        self.table_root = table_root
        self.out_dir = out_dir
        self.schema_name = schema_name
        self.table_name = table_name
        self.max_size = max_size
        self.base_size = base_size
        self.split_mode = split_mode
        self.mode = mode

    @property
    def _progress_path(self) -> str:
        import os
        return os.path.join(self.out_dir, "_feed_progress.json")

    def published_version(self) -> int | None:
        import json
        import os
        if not os.path.exists(self._progress_path):
            return None
        with open(self._progress_path) as f:
            return int(json.load(f)["published_version"])

    def _commit_progress(self, version: int) -> None:
        import json
        import os
        import uuid
        os.makedirs(self.out_dir, exist_ok=True)
        tmp = os.path.join(self.out_dir, f"_feed_progress.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"published_version": version}, f)
        os.replace(tmp, self._progress_path)

    def poll(self) -> dict:
        """One sync-loop iteration: publish everything committed since the
        last poll. The FIRST poll bootstraps the consumer with the whole
        current state as INSERT beans (changes from version 0 — the empty
        table the create commit wrote)."""
        import os

        from pyspark.sql import functions as F

        from ..sources.rawjson import encode_stream_batched

        table = LakeTable.load(self.spark, self.table_root)
        head = table.snapshot.version
        committed = self.published_version()
        frm = 0 if committed is None else committed
        if head <= frm:
            return {"published_version": frm, "payloads": 0, "plan": "noop"}
        keys = table.snapshot.key_names
        val_cols = [c.name for c in table.snapshot.columns if c.name not in keys]
        try:
            plan = table.changes_plan(frm, head)
            ch = table.changes(frm, head, mode=self.mode,
                               include_meta=True, with_before=True)
        except ValueError as e:
            if "unknown or expired" not in str(e):
                raise
            if committed is not None:
                # The feed's watermark version fell out of retained history:
                # the lost window's DELETEs are unrecoverable, and a blind
                # full re-publish would leave them applied forever on the
                # consumer. Sound options are operator-level only.
                raise RuntimeError(
                    f"changes feed watermark v{frm} has been expired from "
                    f"{self.table_root}'s snapshot history (retention outran "
                    "the feed): the lost window cannot be re-derived and a "
                    "full re-publish would miss its DELETEs. Re-bootstrap "
                    "the consumer into a fresh out_dir, or raise "
                    "expire_snapshots keep_last above the feed's lag."
                ) from e
            # First poll on a table whose v0 has been expired by routine
            # maintenance: bootstrap with the whole current state as
            # INSERT beans — byte-equivalent to changes(0, head).
            from pyspark.sql import types as T
            plan = "bootstrap"
            st = table.read(include_meta=True)
            before_t = T.StructType([st.schema[c] for c in val_cols])
            ch = st.select(
                *[F.col(c) for c in keys + val_cols],
                F.col("_gtid"), F.col("_seq"),
                F.lit("INSERT").alias("_change_type"),
                F.lit(None).cast(before_t).alias("_before"),
            )
        after = F.struct(*[F.col(c) for c in keys + val_cols])
        before = F.struct(
            *[F.col(c) for c in keys],
            *[F.col("_before")[c].alias(c) for c in val_cols],
        )
        op = F.col("_change_type")
        # The feed's position clock is the SNAPSHOT VERSION, not the source
        # gtid. Source (gtid, seq) meta cannot be republished soundly: a
        # diff-plan DELETE only knows its BEFORE image's meta (the deciding
        # delete event may be folded away), and a DELETE stamped with the
        # before row's own position LOSES the consumer-side LWW to the
        # consumer's copy of that very row (found by the correction
        # round-trip test); raw _seq also overflows the consumer's
        # log_pos*2^21 repacking. Versions linearize the lake exactly —
        # each poll's window is (from_v, to_v], so stamping every row of a
        # poll with gtid = to_v makes later polls strictly outrank earlier
        # ones per key (one net row per key per window), bootstrap
        # included, for EVERY window shape incl. gtid-interleaved sources.
        # log_pos keeps the source event slot (_seq >> 21) purely to batch
        # same-event rows into one bean and for trace value — EXCEPT for
        # UPDATE rows: Update beans are unsplittable (reference parity,
        # split plan gives them part 0), so a correction that rewrote a
        # million rows under ONE (_gtid,_seq) stamp would batch into one
        # multi-GB bean; hashing UPDATEs' slot per key keeps every Update
        # bean a handful of rows while INSERT/DELETE (splittable) keep
        # slot batching. Positions are trace-only here — per-key LWW
        # rides the version clock.
        upd_slot = F.pmod(
            F.xxhash64(*[F.col(k) for k in keys]), F.lit(1 << 40))
        wire = ch.select(
            F.lit(int(head)).cast("bigint").alias("gtid"),
            F.when(F.col("_change_type") == "UPDATE", upd_slot)
            .otherwise(F.shiftright(F.col("_seq"), 21)).alias("log_pos"),
            F.lit(0).cast("bigint").alias("seq"),
            F.lit("lakefeed").alias("log_name"),
            F.lit(0).cast("bigint").alias("ts"),
            F.lit(self.schema_name).alias("schema_name"),
            F.lit(self.table_name).alias("table_name"),
            op.alias("op"),
            F.when(op != "INSERT", before).alias("before"),
            F.when(op != "DELETE", after).alias("after"),
            F.lit(None).cast("string").alias("ddl"),
        )
        payloads = encode_stream_batched(wire, self.max_size, self.base_size,
                                         split_mode=self.split_mode).persist()
        os.makedirs(self.out_dir, exist_ok=True)
        try:
            n = payloads.count()  # materializes once; the write reuses it
            payloads.write.mode("append").json(self.out_dir)
        finally:
            payloads.unpersist()
        self._commit_progress(head)
        return {"published_version": head, "from_version": frm,
                "payloads": int(n),
                "plan": plan if (self.mode == "auto" or plan == "bootstrap")
                else self.mode}
