"""Structured Streaming incremental entity resolution.

SURVEY §1 marks streaming "out of scope except as a possible future
incremental-matching mode"; :mod:`record_matcher_spark.incremental` built
that mode as a pure batch operator. This module is the Structured
Streaming shell around it: a micro-batch ``foreachBatch`` sink that folds
each arriving slice of turn-level transcripts into a persistently
clustered corpus.

Why ``foreachBatch`` and not stateful streaming operators
(``applyInPandasWithState``): entity resolution's state is the whole
resolved corpus — cross-record, cross-key, unbounded — while Spark's
operator state is per-group and must fit the state store. The corpus
therefore lives in the LAKE and each micro-batch runs the same DataFrame
pipeline any batch job would: rollup → block against base ∪ batch →
vectorized scoring → contracted connected components
(incremental.match_increment). This is the standard Spark pattern for
arbitrarily-stateful streaming sinks.

State is a LOG, not a snapshot — the 100 TB-critical property. Each
committed batch appends three O(batch) tables::

    state_dir/
      g0000_b00000000/conversations/  # the batch's slim rollup
      g0000_b00000000/assignments/    # [conv_id, cluster_id] batch convs
      g0000_b00000000/merges/         # [old_cluster_id, cluster_id] tiny
      g0000_b00000000/_COMMIT         # marker written LAST
      g0000_b00000001/...

Folding a batch never rewrites the corpus: conversations and assignments
are append-only, and a batch that newly connects existing clusters
appends only the (tiny) merge map. Readers compose the merge chain —
O(total merges), driver-side with path compression — into one broadcast
join over the assignment log. :meth:`compact` rewrites the log into a
single snapshot under the next GENERATION prefix (``g0001_…``) and then
drops the old generation, exactly Iceberg's snapshot-compaction shape; in
production these three tables are Iceberg tables and each ``_COMMIT`` is
a transactional append (BASELINE.json north_star).

Exactly-once: Structured Streaming replays a failed micro-batch with the
SAME ``batch_id``; the sink skips any batch_id at or below the last
committed one, and a torn write (crash before ``_COMMIT``) leaves a
marker-less directory that recovery ignores and the replay overwrites.
Binding a NEW streaming checkpoint to an existing store would restart
batch numbering at 0 and alias the replay guard, so :meth:`start` records
its checkpoint in ``_STREAM`` and refuses a different one unless
``rebind_checkpoint=True`` — which installs a batch-id offset so the new
query's ids continue after the last committed batch.

Ingest contract: a conversation's turns must arrive WHOLE within one
micro-batch, and a conv_id never re-appears in a later batch (the
upstream writer emits complete conversations — e.g. files partitioned by
conversation; this is the same contract match_increment states).
``match_increment`` enforces it on every fold: the distinct conv_id count
rides on its uniqueness aggregate over base ∪ batch, and a re-delivered
conv_id raises before the fold commits anything.

This parquet store addresses the state through the DRIVER's filesystem
(markers + listings are plain ``os`` calls) — the sandbox stand-in. In
production the three tables are Iceberg tables and each ``_COMMIT`` is a
transactional append (BASELINE.json north_star); the log/segment/
generation protocol maps 1:1 onto snapshots.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession

from record_matcher_spark.config import MatchConfig
from record_matcher_spark.datagen import TRANSCRIPT_SCHEMA
from record_matcher_spark.errors import InvalidConfigError
from record_matcher_spark.incremental import apply_merges, match_increment
from record_matcher_spark.operators.rollup import rollup_conversations
from record_matcher_spark.sources.checkpoints import write_atomic

_DIR_RE = re.compile(r"^g(\d{4})_b(\d{8})$")
_COMMIT = "_COMMIT"
# Schemas of the assignments and merges logs. Reads pass them (and the
# conversations log its rollup schema) so Spark runs no schema-inference
# job over the segments the store itself wrote.
_ASSIGNMENTS_SCHEMA = "conv_id string, cluster_id string"
_MERGES_SCHEMA = "old_cluster_id string, cluster_id string"


@dataclass(frozen=True)
class StreamState:
    generation: int
    batch_id: int
    n_batches: int  # committed log segments in the live generation


class TranscriptStreamMatcher:
    """Incrementally-maintained entity clusters over a transcript stream.

    Drive it from Structured Streaming::

        m = TranscriptStreamMatcher(spark, state_dir)
        q = m.start(input_path, checkpoint_dir)  # availableNow drain
        q.awaitTermination()
        m.clusters()                             # full assignment table

    or from any batch scheduler by calling :meth:`process_batch` directly
    with a monotonically increasing ``batch_id`` — the sink is the same
    function, and replays are no-ops either way. No bootstrap step: the
    first batch folds into an empty base (equivalent to the batch
    pipeline on that slice — incremental.py's equivalence note). To seed
    from an existing corpus, process it as batch 0. Each fold runs
    :func:`incremental.match_increment` in its default threshold edge
    mode.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        cfg: MatchConfig | None = None,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.cfg = cfg

    # -- log plumbing ---------------------------------------------------

    def _segments(self) -> list[tuple[int, int]]:
        """Committed (generation, batch_id) pairs, sorted."""
        if not os.path.isdir(self.state_dir):
            return []
        out = []
        for name in os.listdir(self.state_dir):
            m = _DIR_RE.match(name)
            if m and os.path.exists(os.path.join(self.state_dir, name, _COMMIT)):
                out.append((int(m.group(1)), int(m.group(2))))
        return sorted(out)

    def _live(self) -> list[tuple[int, int]]:
        """Segments of the live (max) generation, batch order."""
        segs = self._segments()
        if not segs:
            return []
        gen = max(g for g, _ in segs)
        return [(g, b) for g, b in segs if g == gen]

    def _dir(self, gen: int, batch_id: int) -> str:
        return os.path.join(self.state_dir, f"g{gen:04d}_b{batch_id:08d}")

    def state(self) -> StreamState | None:
        """Latest committed state, or None before the first batch."""
        segs = self._segments()
        if not segs:
            return None
        live = self._live()
        return StreamState(
            generation=live[-1][0],
            batch_id=max(b for _, b in segs),
            n_batches=len(live),
        )

    @cached_property
    def _empty_conversations(self) -> DataFrame:
        """Typed empty slim rollup: the seed fold's base, and the read
        schema of the conversations log. Built once per matcher: every
        fold reads it, and building it plans a rollup."""
        empty_t = self.spark.createDataFrame([], TRANSCRIPT_SCHEMA)
        return rollup_conversations(empty_t).drop("turns")

    def conversations(self) -> DataFrame:
        """Slim conversation rollup of the resolved corpus (log union)."""
        paths = [
            os.path.join(self._dir(g, b), "conversations")
            for g, b in self._live()
        ]
        empty = self._empty_conversations
        if not paths:
            return empty
        return self.spark.read.schema(empty.schema).parquet(*paths)

    def _merge_map(self) -> dict[str, str]:
        """Transitively-composed merge chain, path-compressed.

        O(total merges ever) — merges are cluster-count events, orders of
        magnitude rarer than rows; collecting them to the driver is the
        same size class as the blocking caps' over-cap key set.
        """
        paths = [
            os.path.join(self._dir(g, b), "merges") for g, b in self._live()
        ]
        m: dict[str, str] = {}
        if paths:
            # one job over every segment: a merged-away label never
            # re-appears as a later merge's old_cluster_id (it is no
            # longer a label in the composed view), so each key occurs
            # once across the whole log and read order is irrelevant
            merges = self.spark.read.schema(_MERGES_SCHEMA).parquet(*paths)
            for r in merges.collect():
                m[r["old_cluster_id"]] = r["cluster_id"]

        def resolve(label: str) -> str:
            chain = []
            while label in m:
                chain.append(label)
                label = m[label]
            for c in chain:
                m[c] = label
            return label

        return {old: resolve(old) for old in list(m)}

    def clusters(self) -> DataFrame:
        """[conv_id, cluster_id] for the whole corpus: assignment log with
        the composed merge map applied via one broadcast join."""
        paths = [
            os.path.join(self._dir(g, b), "assignments")
            for g, b in self._live()
        ]
        if not paths:
            return self.spark.createDataFrame([], _ASSIGNMENTS_SCHEMA)
        assigns = self.spark.read.schema(_ASSIGNMENTS_SCHEMA).parquet(*paths)
        mm = self._merge_map()
        if not mm:
            return assigns
        merges_df = self.spark.createDataFrame(
            list(mm.items()), _MERGES_SCHEMA
        )
        # mm is already transitively composed, so one apply_merges hop
        # (broadcast relabel join) lands every row on its final survivor
        return apply_merges(assigns, merges_df)

    def _commit_segment(
        self,
        gen: int,
        batch_id: int,
        conversations: DataFrame,
        assignments: DataFrame,
        merges: DataFrame,
    ) -> None:
        d = self._dir(gen, batch_id)
        if os.path.isdir(d):  # torn write from a crashed attempt
            shutil.rmtree(d)
        conversations.write.parquet(os.path.join(d, "conversations"))
        assignments.write.parquet(os.path.join(d, "assignments"))
        merges.write.parquet(os.path.join(d, "merges"))
        write_atomic(
            os.path.join(d, _COMMIT), json.dumps({"batch_id": batch_id})
        )

    # -- lifecycle ------------------------------------------------------

    def process_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
    ) -> None:
        """The foreachBatch sink: fold one micro-batch into the corpus.

        Idempotent on replay — a ``batch_id`` at or below the last
        committed one is skipped (Structured Streaming re-delivers the
        failed batch with the same id after restart).

        The ingest contract (module docstring) is enforced on every batch:
        a conv_id already in the corpus means this batch carries a
        PARTIAL conversation (its turns straddled a batch boundary) and
        folding it would commit a second, conflicting rollup, so
        ``match_increment`` raises InvalidConfigError before the segment
        is written. The check adds no pass over the corpus: it is a
        distinct count inside the uniqueness aggregate the fold runs
        anyway.
        """
        batch_id = int(batch_id)
        cur = self.state()
        gen = cur.generation if cur else 0
        if cur is not None and batch_id <= cur.batch_id:
            return  # replay of an already-committed batch
        if batch_df.isEmpty():
            return  # nothing to fold; replays of an empty batch re-skip

        inc = match_increment(
            batch_df, self.conversations(), self.clusters(), self.cfg
        )
        self._commit_segment(
            gen, batch_id, inc.conversations, inc.assignments, inc.merges
        )
        inc.unpersist()

    def compact(self) -> StreamState:
        """Rewrite the log into one snapshot segment (next generation).

        Bounds read amplification after many small batches: the snapshot
        folds every assignment through the composed merge map, so the new
        generation starts with an empty merge chain. Old-generation
        segments are removed only after the snapshot's ``_COMMIT`` lands
        (a crash in between leaves both generations; readers use the max
        committed generation, and a re-run finishes the cleanup).

        .. warning::
            Compaction DELETES the old generation's parquet segments.
            DataFrames previously returned by :meth:`clusters` /
            :meth:`conversations` are lazy reads over those paths — they
            fail on their next action once compaction runs. Materialize
            (collect / write / checkpoint) any result you still need
            BEFORE calling ``compact()``, and re-acquire fresh DataFrames
            afterwards.
        """
        cur = self.state()
        if cur is None:
            raise InvalidConfigError("nothing to compact: no committed state")
        new_gen = cur.generation + 1
        self._commit_segment(
            new_gen,
            cur.batch_id,
            self.conversations(),
            self.clusters(),
            self.spark.createDataFrame([], _MERGES_SCHEMA),
        )
        # drop EVERY other segment dir below or at the new generation —
        # committed older generations, and torn (marker-less) leftovers
        # of crashed commits/compactions, which readers already ignore
        # but would otherwise leak disk forever
        for name in os.listdir(self.state_dir):
            m = _DIR_RE.match(name)
            if not m:
                continue
            g, b = int(m.group(1)), int(m.group(2))
            if (g, b) == (new_gen, cur.batch_id):
                continue  # the snapshot just committed
            committed = os.path.exists(
                os.path.join(self.state_dir, name, _COMMIT)
            )
            if g < new_gen or (not committed and g <= new_gen):
                shutil.rmtree(
                    os.path.join(self.state_dir, name), ignore_errors=True
                )
        out = self.state()
        assert out is not None
        return out

    def _bind_checkpoint(self, checkpoint_dir: str) -> int:
        """Register this stream binding; return the batch-id offset.

        A streaming query numbers its batches from 0 PER CHECKPOINT, while
        the replay guard is keyed on committed batch ids — so binding a
        fresh checkpoint to a non-empty store would make every new batch
        look like a replay and be silently dropped. The binding file pins
        the checkpoint; a different one is refused unless
        ``rebind_checkpoint=True``, which records an offset continuing the
        committed numbering (new query's batch 0 → last committed + 1).
        """
        os.makedirs(self.state_dir, exist_ok=True)
        path = os.path.join(self.state_dir, "_STREAM")
        norm = os.path.abspath(checkpoint_dir)
        if os.path.exists(path):
            with open(path) as f:
                bound = json.load(f)
            if bound["checkpoint_dir"] == norm:
                return int(bound["batch_id_offset"])
            raise InvalidConfigError(
                f"state {self.state_dir} is bound to checkpoint "
                f"{bound['checkpoint_dir']!r}; starting with "
                f"{norm!r} would restart batch numbering at 0 and the "
                "replay guard would drop every batch. Reuse the original "
                "checkpoint, or pass rebind_checkpoint=True to continue "
                "numbering from the last committed batch."
            )
        cur = self.state()
        offset = cur.batch_id + 1 if cur is not None else 0
        write_atomic(
            path,
            json.dumps({"checkpoint_dir": norm, "batch_id_offset": offset}),
        )
        return offset

    def start(
        self,
        input_path: str,
        checkpoint_dir: str,
        *,
        rebind_checkpoint: bool = False,
    ):
        """Launch the stream: parquet file source of turn rows
        (``datagen.TRANSCRIPT_SCHEMA``) → foreachBatch sink.

        The query runs with the ``availableNow`` trigger: it drains
        everything currently in ``input_path`` as one micro-batch and
        stops — the incremental-backfill mode. A later ``start`` on the
        same checkpoint folds only the files added since. Any other
        trigger or source (Kafka, Iceberg CDC) works by building the
        reader and writer yourself and handing :meth:`process_batch` to
        ``foreachBatch``.

        ``rebind_checkpoint``: allow a NEW checkpoint dir against existing
        state (see :meth:`_bind_checkpoint` — batch numbering continues,
        nothing is dropped). The input files visible to the new checkpoint
        are all reprocessed; the sink's disjointness check then rejects
        re-delivered conversations, so rebinding is for NEW
        input paths, not for re-draining the old one.
        """
        if rebind_checkpoint:
            stream_file = os.path.join(self.state_dir, "_STREAM")
            if os.path.exists(stream_file):
                os.remove(stream_file)
        offset = self._bind_checkpoint(checkpoint_dir)
        stream = self.spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(
            input_path
        )

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.process_batch(batch_df, int(batch_id) + offset)

        return (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
