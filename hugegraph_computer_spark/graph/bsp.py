"""Superstep harness: checkpointed, resumable iteration for BSP-style algorithms.

The reference runs a master/worker loop with etcd barriers per superstep
(computer-core/.../master/MasterService.java:183-279;
worker/WorkerService.java:217-284). In Spark every superstep is simply one
or two jobs launched by the driver — the action boundary IS the barrier, the
driver IS the master, and global aggregators are a single ``agg().collect()``
per superstep (the reference exchanges them over RPC,
aggregator/WorkerAggrManager.java:89-141).

That master loop exists once, in two drivers:

* ``SuperstepLoop.run(init, step, halt)`` for every full-state operator
  (pagerank, personalized_pagerank, lpa, coreness, weighted closeness,
  and ``graph.program.run_program``, which runs wcc and every other
  ``VertexProgram``): each operator supplies only its superstep-0 plan,
  its per-superstep plan with the aggregators to observe, and its stop
  rule; the message-passing ones send through ``Graph.scatter``;
* ``SuperstepLoop.flood(init, step, record)`` for every replay-resume
  flood (rings, rings with filter, links, random and node2vec walks,
  unweighted closeness, the forward BFS of betweenness) and for the
  non-durable backward sweep of betweenness: each operator supplies only
  its superstep-0 frontier and its per-superstep plan; the flood records
  per-superstep results and stops at the first empty frontier.

What the reference left as a TODO — resume (MasterService.java:213, 316-322)
— is implemented here for real, per the north rule:

* with a checkpoint dir, EVERY superstep writes the full algorithm state
  to ``{dir}/{job}/superstep={s}/`` as parquet, plus a ``_meta.json`` carrying
  the superstep id, the global aggregator values, per-file row counts
  (lineage, read from the written files' parquet footers), and wall-clock
  metrics, and the written frame's schema. The write is the superstep's
  only Spark job: the read-back, and a later ``read_step``, reuse that
  schema instead of inferring it;
* ``SuperstepLoop.resume()`` finds the latest *complete* snapshot (the meta
  file is written after the parquet commit, so a job killed mid-write
  resumes from the previous superstep) and the algorithm continues from it;
  a flood, whose result is every superstep's record, resumes from the
  contiguous prefix instead (``resume_steps``);
* reading the snapshot back also breaks Catalyst's plan lineage — without
  this, an iterative DataFrame program re-analyzes an exponentially growing
  plan (SURVEY.md §4). When no checkpoint dir is configured we break lineage
  with ``localCheckpoint`` instead.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

#: non-durable state generations kept pinned: the current one and the one
#: it was derived from
RELEASE_WINDOW = 2


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the cached blocks behind a ``localCheckpoint``-ed DataFrame.

    ``DataFrame.unpersist`` only clears cache-manager entries, not the
    internal RDD a local checkpoint pins (verified against
    ``sc.getPersistentRDDs``); the LogicalRDD's own RDD must be unpersisted.
    Best-effort — a plan that is not a LogicalRDD is left alone."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        try:
            df.unpersist()
        except Exception:
            pass


def release_projected_checkpoint(df: DataFrame) -> None:
    """Free the ``localCheckpoint`` a projection reads: the frame an
    operator built on ``SuperstepLoop.run`` returns (``wcc``'s
    ``state.select(...)``) keeps the loop's last state pinned for its
    caller; once the caller has pinned what it derived, this frees it."""
    df._jdf.queryExecution().analyzed().child().rdd().unpersist(False)


class RolledUnion:
    """The union of a growing list of frames (a flood's records), kept as
    ONE rolled ``localCheckpoint``: ``extend`` materializes the current
    generation ∪ the frames added since, then releases the superseded
    generation — at most two generations are pinned, and each superstep
    traverses one frame instead of re-unioning every record."""

    def __init__(self, *cols: str):
        self.cols = cols
        self.df: DataFrame | None = None
        self._n = 0

    def extend(self, frames: list[DataFrame]) -> DataFrame:
        new = [f.select(*self.cols) for f in frames[self._n:]]
        if new:
            prev = [] if self.df is None else [self.df]
            out = reduce(DataFrame.unionByName, prev + new).localCheckpoint(eager=True)
            self.release()
            self.df, self._n = out, len(frames)
        return self.df

    def release(self) -> None:
        if self.df is not None:
            release_local_checkpoint(self.df)
            self.df = None


@dataclass
class SuperstepRecord:
    superstep: int
    aggregates: dict
    metrics: dict = field(default_factory=dict)


class SuperstepLoop:
    """Driver-side loop support for one algorithm run (one "job")."""

    def __init__(
        self,
        spark: SparkSession,
        job_name: str,
        checkpoint_dir: str | None = None,
        max_supersteps: int = 10,
        resume: bool = False,
    ):
        self.spark = spark
        self.job_name = job_name
        self.dir = os.path.join(checkpoint_dir, job_name) if checkpoint_dir else None
        # A fresh run (resume=False) must not inherit a prior, possibly
        # LONGER run's snapshots: it overwrites only the steps it reaches,
        # so stale deeper steps would survive and a later resume would mix
        # two runs' states (completed_steps() unions them, resume() picks
        # the stale deepest). Purge the job dir up front.
        if self.dir and not resume and os.path.isdir(self.dir):
            shutil.rmtree(self.dir)
        self.max_supersteps = max_supersteps
        self._resume = resume
        self.history: list[SuperstepRecord] = []
        self._persisted: list[DataFrame] = []  # rolling state generations
        self._kept: list[DataFrame] = []  # flood records, pinned to cleanup
        # set by run(): the last superstep reached and its aggregates
        self.superstep: int | None = None
        self.aggregates: dict = {}

    # --------------------------------------------------------------- driver
    def run(
        self,
        init: Callable[[], tuple[DataFrame, dict]],
        step: Callable[[int, DataFrame, dict], tuple[DataFrame, dict[str, Column]]],
        halt: Callable[[int, dict], bool],
    ) -> DataFrame:
        """Drive the job's supersteps and return the last state.

        * ``init() -> (state, aggregates)`` builds superstep 0 (compute0);
          it runs only when there is no snapshot to resume from.
        * ``step(s, state, prev_aggs) -> (new_state, {name: Column})``
          builds superstep ``s``'s plan; the aggregator columns ride its
          single materialization through ``observe``.
        * ``halt(s, aggs) -> bool`` is the master rule
          (MasterComputation.compute). Its decision is stored in the
          aggregates as ``continue``, so a resume never re-evaluates it.

        Each new state is projected onto the superstep-0 columns, so a
        step may carry helper columns for its aggregators only (PageRank's
        ``old_rank``). The run stops after superstep ``max_supersteps - 1``.
        ``superstep`` and ``aggregates`` then hold where it ended — also
        when the resumed snapshot was already final."""
        resumed = self.resume() if self._resume else None
        if resumed is not None:
            s, state, aggs = resumed
        else:
            s = 0
            state, aggs = init()
            aggs["continue"] = True
            state = self.save(0, state, aggs, {"supersteps": 0})
        cols = state.columns
        while aggs.get("continue", True) and s < self.max_supersteps - 1:
            s += 1
            new_state, agg_cols = step(s, state, aggs)
            t0 = time.time()
            obs = Observation(f"{self.job_name}_s{s}")
            observed = new_state.observe(
                obs, *[c.alias(k) for k, c in agg_cols.items()]
            ).select(*cols)
            state = self.materialize(s, observed)
            aggs = dict(obs.get)
            aggs["continue"] = not halt(s, aggs) and s < self.max_supersteps - 1
            self.commit(s, aggs, {"supersteps": s, "step_sec": time.time() - t0})
        self.cleanup()
        self.superstep, self.aggregates = s, aggs
        return state

    def flood(
        self,
        init: Callable[[], DataFrame | tuple[DataFrame, DataFrame]],
        step: Callable[
            [int, DataFrame, list[DataFrame]], DataFrame | tuple[DataFrame, DataFrame]
        ],
        record: SuperstepLoop | None = None,
    ) -> list[DataFrame]:
        """Drive a flood and return its records in superstep order.

        * ``init()`` builds the superstep-0 frontier; it runs only when
          there is nothing to resume from.
        * ``step(s, frontier, records)`` builds superstep ``s``'s frontier
          from the last one; ``records`` holds the records so far.

        Without ``record`` every non-empty frontier is itself the record
        (walk positions, BFS levels, settled deltas). With ``record`` —
        the loop that snapshots the results — ``step`` returns
        ``(frontier, delta)`` and ``init`` may return one too; the delta
        is written before the frontier commit, so a kill in between
        replays the superstep. Resume continues from the deepest
        superstep whose frontier and every record up to it lie on disk
        without a gap; everything past it is discarded and recomputed.
        The flood stops at the first empty frontier (its snapshot is
        discarded) or after superstep ``max_supersteps - 1``. Records that
        are not durable stay pinned until ``cleanup(keep_last=False)``."""
        # a frontier that is its own record stays pinned; one that is not
        # joins the rolling window
        pin = self._kept if record is None else None
        steps = self.resume_steps() if self._resume else []
        last = steps[-1] if steps else -1
        if record is not None and steps:
            first = self._meta(0)["aggregates"]["records_from"]
            last = min(last, first - 1 + len(record.resume_steps(first)))
            records = [record.read_step(k) for k in range(first, last + 1)]
            for loop in (self, record):
                for k in loop.completed_steps():
                    if k > last:
                        loop.discard_step(k)
        else:
            records = [self.read_step(k) for k in steps]
        if last >= 0:
            frontier = self.read_step(last)
        else:
            out = init()
            frontier, delta = out if isinstance(out, tuple) else (out, None)
            if delta is not None:
                records.append(record.save(0, delta, {}, pinned=self._kept))
            aggs = {} if record is None else {"records_from": int(delta is None)}
            frontier = self.save(0, frontier, aggs, {"supersteps": 0}, pin)
            if record is None:
                records.append(frontier)
            last = 0
        for s in range(last + 1, self.max_supersteps):
            t0 = time.time()
            out = step(s, frontier, records)
            if record is not None:
                out, delta = out
                records.append(record.save(s, delta, {}, pinned=self._kept))
            obs = Observation(f"{self.job_name}_s{s}")
            frontier = self.materialize(
                s, out.observe(obs, F.count(F.lit(1)).alias("n")), pin
            )
            n = int(obs.get["n"] or 0)
            if n == 0:
                self.discard_step(s)
                break
            if record is None:
                records.append(frontier)
            self.commit(
                s, {"in_flight": n}, {"supersteps": s, "step_sec": time.time() - t0}
            )
        return records

    # ------------------------------------------------------------- snapshot
    def _step_dir(self, superstep: int) -> str:
        return os.path.join(self.dir, f"superstep={superstep}")

    def _meta_path(self, superstep: int) -> str:
        return os.path.join(self._step_dir(superstep), "_meta.json")

    def materialize(
        self, superstep: int, state: DataFrame, pinned: list[DataFrame] | None = None
    ) -> DataFrame:
        """Materialize this superstep's state exactly once and return a
        lineage-free handle. This is THE single action per superstep —
        algorithms attach their global aggregators to the plan with
        ``DataFrame.observe`` so the aggregate ride-along costs no extra
        job (the reference ships partial aggregators with the compute
        pass the same way, WorkerAggrManager.java:89-141). A durable
        superstep runs the write and nothing else: the handle reads the
        same files back under the schema just written, and the
        ``partition_rows`` metric (one count per written file, summed into
        ``rows``) comes from the parquet footers on the driver; the schema
        goes into the meta too, so ``read_step`` reads under it. A
        non-durable frame joins ``pinned`` when given, else the rolling
        window of ``RELEASE_WINDOW`` generations."""
        self._pending_metrics, self._pending_schema = {}, None
        if self.dir is not None:
            path = self._step_dir(superstep)
            if os.path.exists(path):
                shutil.rmtree(path)
            state.write.mode("overwrite").parquet(path)
            part_counts = _file_rows(path)
            self._pending_metrics = {
                "partition_rows": part_counts,
                "rows": sum(part_counts),
            }
            self._pending_schema = state.schema.jsonValue()
            out = self.spark.read.schema(state.schema).parquet(path)
        else:
            # lineage break without durable write
            out = state.localCheckpoint(eager=True)
            if pinned is not None:
                pinned.append(out)
            else:
                self._persisted.append(out)
                if len(self._persisted) > RELEASE_WINDOW:
                    release_local_checkpoint(self._persisted.pop(0))
        return out

    def commit(
        self, superstep: int, aggregates: dict, metrics: dict | None = None
    ) -> None:
        """Publish the superstep's aggregates + metrics. For durable steps
        the meta file is written after the parquet commit, so a job killed
        mid-write resumes from the previous superstep."""
        record = SuperstepRecord(superstep, dict(aggregates), dict(metrics or {}))
        record.metrics.update(getattr(self, "_pending_metrics", {}))
        if self.dir is not None:
            with open(self._meta_path(superstep), "w") as f:
                json.dump(
                    {
                        "job": self.job_name,
                        "superstep": superstep,
                        "aggregates": _jsonable(record.aggregates),
                        "metrics": _jsonable(record.metrics),
                        "schema": getattr(self, "_pending_schema", None),
                        "ts": time.time(),
                    },
                    f,
                )
        self.history.append(record)

    def save(
        self,
        superstep: int,
        state: DataFrame,
        aggregates: dict,
        metrics: dict | None = None,
        pinned: list[DataFrame] | None = None,
    ) -> DataFrame:
        """materialize + commit in one call (aggregates already known)."""
        out = self.materialize(superstep, state, pinned)
        self.commit(superstep, aggregates, metrics)
        return out

    def completed_steps(self) -> list[int]:
        """All supersteps with a COMPLETE durable snapshot (meta present),
        ascending."""
        if not self.dir or not os.path.isdir(self.dir):
            return []
        out = []
        for name in os.listdir(self.dir):
            if name.startswith("superstep="):
                s = int(name.split("=", 1)[1])
                if os.path.exists(self._meta_path(s)):
                    out.append(s)
        return sorted(out)

    def resume_steps(self, start: int = 0) -> list[int]:
        """Usable steps for replay-style resume: the contiguous prefix
        ``start, start+1, ...``, with anything past a gap DISCARDED from
        disk (a gap means a corrupt/mixed checkpoint dir; silently pairing
        non-adjacent supersteps would corrupt the algorithm state)."""
        usable: list[int] = []
        for s in self.completed_steps():
            if s == start + len(usable):
                usable.append(s)
            else:
                self.discard_step(s)
        return usable

    def read_step(self, superstep: int) -> DataFrame:
        """Read one durable superstep snapshot back (lineage-free) under the
        schema its meta recorded, so the read launches no job. A meta
        without one (a snapshot written before the schema was recorded)
        leaves the schema to parquet's inference."""
        reader = self.spark.read
        schema = self._meta(superstep).get("schema")
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(self._step_dir(superstep))

    def discard_step(self, superstep: int) -> None:
        """Drop a durable snapshot (used for the final EMPTY frontier: the
        write happens before its observed count is known; keeping an empty
        level would corrupt resume — e.g. Brandes' backward sweep keys off
        the deepest non-empty level)."""
        if self.dir is None:
            return
        path = self._step_dir(superstep)
        if os.path.exists(path):
            shutil.rmtree(path)

    def resume(self) -> tuple[int, DataFrame, dict] | None:
        """Latest complete snapshot → (superstep, state, aggregates); None
        if the job has never checkpointed."""
        steps = self.completed_steps()
        if not steps:
            return None
        s = steps[-1]
        return s, self.read_step(s), _unjsonable(self._meta(s)["aggregates"])

    def _meta(self, superstep: int) -> dict:
        with open(self._meta_path(superstep)) as f:
            return json.load(f)

    def cleanup(self, keep_last: bool = True) -> None:
        """Release the loop's pinned checkpoint blocks. The most recent
        frame and the flood records are kept by default because operators
        return DataFrames derived from them (a released local checkpoint
        cannot recompute); callers that copied their result out pass
        ``keep_last=False``."""
        if keep_last:
            tail, self._persisted = self._persisted[:-1], self._persisted[-1:]
        else:
            tail, self._persisted = self._persisted + self._kept, []
            self._kept = []
        for df in tail:
            release_local_checkpoint(df)


def _file_rows(path: str) -> list[int]:
    """Rows per data file of a parquet snapshot, in file-name (= write
    task) order, read from the footers without a Spark job."""
    return [
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in sorted(os.listdir(path))
        if not f.startswith(("_", "."))
    ]


def _jsonable(d: dict) -> dict:
    out = {}
    for k, v in d.items():
        if isinstance(v, float) and (math.isinf(v) or math.isnan(v)):
            out[k] = {"__float__": repr(v)}
        else:
            out[k] = v
    return out


def _unjsonable(d: dict) -> dict:
    out = {}
    for k, v in d.items():
        if isinstance(v, dict) and "__float__" in v:
            out[k] = float(v["__float__"])
        else:
            out[k] = v
    return out
