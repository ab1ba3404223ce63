"""Lineage truncation for iterative round state — local-fast by default,
reliable-checkpoint behind one session knob.

Every iterative operator in this engine (pagerank/hits/sssp/BFS
frontiers, star-contraction CC, Borůvka MSF, k-truss peeling, LPA,
HyperBall, MIS/matching, BPE merge rounds, k-center, and the
partition-carry relational idioms) truncates its per-round plan lineage
so round N+1's plan does not embed round N's. The relaxation operators
(pagerank, hits, sssp_bounded, multi_source_bfs, HyperBall,
label_propagation) run their whole loop through `relax_rounds` below,
which owns the cut cadence along with the tier choice and the cleanup.
The shrinking-graph operators (k_core, k_truss, maximal_independent_set,
maximal_matching, connected_components_star, minimum_spanning_forest),
whose rounds rewrite an edge set instead of a per-node state, run
theirs through `shrink_rounds`, which owns the residual sizing, the
cuts and their release, the driver-local tail and the round cap.
`DataFrame.localCheckpoint` is the right default on local[*] and for
short jobs: blocks live in executor storage, no DFS round-trip. It is
NOT fault-tolerant — the truncated lineage cannot recompute lost
blocks, so on a multi-hour 1000-executor job a single executor loss
kills the query (Spark's own API docs carry this caveat).

At cluster scale, flip ONE knob instead of editing operators:

    spark.sparkContext.setCheckpointDir("hdfs://.../checkpoints")
    spark.conf.set("spark.citegraph.reliableCheckpoint", "true")

and every operator's round state goes through reliable
`DataFrame.checkpoint` (DFS-backed, survives executor loss; cost is one
write+read of the round state per round — the standard durability trade
for long iterative jobs). Call sites use `df.transform(cut_lineage)` —
the same chain position as the `.localCheckpoint(eager=True)` they
replace, and the default path forwards to exactly that call
(test-pinned in tests/test_lineage.py).

Operational note for long jobs: reliable checkpoints accumulate one
directory per round under the checkpoint dir. Set
`spark.cleaner.referenceTracking.cleanCheckpoints=true` so checkpoints
whose DataFrames go out of scope are deleted by the ContextCleaner, or
point the dir at a storage-lifecycle-managed path — otherwise a
1000-round job leaves 1000 round-state snapshots on the DFS.
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import json
import sys
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .errors import ConvergenceError

RELIABLE_FLAG = "spark.citegraph.reliableCheckpoint"

#: Largest per-round state (rows × the operator's bytes per row) that
#: `relax_rounds` broadcasts into each round's join.
STATE_BROADCAST_BYTES = 256 << 20

#: `relax_rounds` cuts the round state's lineage every CUT_EVERY rounds
#: and at the last round.
CUT_EVERY = 3

#: `shrink_rounds` hands the residual to the operator's driver-local tail
#: once it has at most TAIL_ROWS rows.
TAIL_ROWS = 50_000


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize `df` and truncate its plan lineage.

    Default: `localCheckpoint(eager=True)` (fast, executor-local, not
    fault-tolerant). With `spark.citegraph.reliableCheckpoint=true` and
    a checkpoint dir set on the SparkContext: `checkpoint(eager=True)`
    (DFS-backed, survives executor loss). Always eager — every caller
    is per-round state that is counted or joined immediately, and lazy
    truncation would re-plan the round on first use.
    """
    spark = df.sparkSession
    if str(spark.conf.get(RELIABLE_FLAG, "false")).lower() == "true":
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Drop the executor blocks `df` holds, whether it was `persist`-ed
    or came out of `cut_lineage`. `DataFrame.unpersist()` only clears
    cache-manager entries; a (local) checkpoint's blocks belong to the
    RDD under its `LogicalRDD` plan and would otherwise stay until the
    ContextCleaner happens to collect that RDD. A `select` over a cut
    frame holds that frame's blocks, so it releases them too. The blocks
    go through `SparkContext.unpersistRDD`: `RDD.unpersist` would log a
    WARN for every locally checkpointed RDD, whose release is intended."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    while plan.getClass().getSimpleName() == "Project":
        plan = plan.child()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(plan.rdd().id(), False)


def session_broadcast_bytes(spark) -> int:
    """The session's broadcast budget (`spark.sql.autoBroadcastJoinThreshold`)
    in bytes, 0 when the session has broadcasting turned off."""
    budget = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return max(int(budget), 0)


@contextlib.contextmanager
def _aqe_off_for_rounds(spark, active: bool):
    """Turn AQE off around a zero-shuffle broadcast-round loop (r13,
    guide §1.2): with the static side pre-partitioned and the per-round
    state broadcast, a round's plan has NO exchange for AQE to adapt —
    its stage-by-stage materialization and replanning is pure per-job
    latency (~0.1 s/round measured on the pagerank/hits/sssp loops).
    `active=False` (the shuffled fallback) is a no-op: those rounds DO
    shuffle the per-round state and AQE's coalescing is load-bearing
    there. Restores the caller's setting on exit."""
    if not active:
        yield
        return
    before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)


def relax_rounds(
    static: DataFrame,
    state: DataFrame,
    step: Callable[[DataFrame, DataFrame], DataFrame],
    rounds: int,
    *,
    state_bytes: int = 0,
    keys: tuple[str, str] | None = None,
    observe: Column | None = None,
    stop: Callable[[int, Any], bool] | None = None,
) -> DataFrame:
    """Run up to `rounds` relaxation rounds, `state = step(static, build)`,
    where `build` is the previous state marked as the round join's build
    side — a Pregel superstep (Malewicz et al., SIGMOD 2010) whose
    messages and aggregate are DataFrame columns. Returns the last state;
    it is lineage-cut and belongs to the caller (`release` it when done).

    Tier: the state is broadcast while `state_bytes` (its row count ×
    the operator's bytes per row) fits STATE_BROADCAST_BYTES and the
    session broadcasts at all; otherwise each round is a shuffled-hash
    join that hash-builds on the state. `keys=(agg_key, join_key)`:
    `static` is partitioned ONCE by the round's aggregate key on the
    broadcast tier (the join output then already carries the aggregate's
    distribution, so a round has zero exchanges) or by the join key on
    the fallback (the O(static) side streams into the join without a
    re-shuffle or a sort; only the state and the map-side-combined
    aggregate move). It is persisted, not checkpointed: a PySpark
    localCheckpoint scans back with UnknownPartitioning and every round
    would re-shuffle it, while the cached InMemoryTableScan keeps its
    hashpartitioning visible to the planner. `keys=None`: `static` is
    already partitioned by the aggregate key and persisted by the
    caller, who keeps it, and the rounds are broadcast-only.

    Mechanics: AQE is off around broadcast rounds (`_aqe_off_for_rounds`).
    The state's lineage is cut every CUT_EVERY rounds and at the last
    one, and Python GC (which releases Py4J references to superseded
    JVM state) runs only at those cuts. `observe`: an aggregate Column
    computed over each new state as it materializes (a
    `DataFrame.observe` metric, so no extra job); the state is then cut
    every round and `stop(k, value)` after round k ends the loop when it
    returns True.

    Ownership: `state` is taken over. Every state this loop cut, and the
    static table it persisted, is released before it returns, except
    the returned state.
    """
    spark = static.sparkSession
    broadcast = keys is None or (
        state_bytes <= STATE_BROADCAST_BYTES and session_broadcast_bytes(spark) > 0
    )
    if keys is not None:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        static = static.repartition(
            n_shuffle, keys[0] if broadcast else keys[1]
        ).persist(StorageLevel.MEMORY_AND_DISK)
    held = state  # the newest materialized state, released when superseded
    try:
        if keys is not None:
            static.count()  # materialize once
        with _aqe_off_for_rounds(spark, broadcast):
            for k in range(1, rounds + 1):
                build = F.broadcast(state) if broadcast else state.hint("shuffle_hash")
                state = step(static, build)
                if observe is not None:
                    obs = Observation()
                    state = state.observe(obs, observe)
                elif k % CUT_EVERY and k != rounds:
                    continue
                state = cut_lineage(state)
                release(held)
                held = state
                gc.collect()
                if observe is not None and stop is not None:
                    if stop(k, next(iter(obs.get.values()))):
                        break
    except BaseException:
        release(held)
        raise
    finally:
        if keys is not None:
            release(static)
    return state


class ShrinkRound:
    """One round of `shrink_rounds` as its `step` sees it: `index` is the
    number of rounds already run. Frames the step materializes through
    this handle belong to the loop, which releases them (see `cut`,
    `carry`, `hold`, `emit`)."""

    def __init__(self, index: int):
        self.index = index
        self.held: list[DataFrame] = []  # released once this round's residual is cut
        self.carried: list[DataFrame] = []  # released once the next round's is
        self.emitted: list[DataFrame] = []  # kept for the result

    def cut(self, df: DataFrame) -> DataFrame:
        """`cut_lineage(df)`, held until this round's residual is cut."""
        df = cut_lineage(df)
        self.held.append(df)
        return df

    def carry(self, df: DataFrame) -> DataFrame:
        """`cut_lineage(df)`, kept through the next round as well."""
        df = cut_lineage(df)
        self.carried.append(df)
        return df

    def hold(self, df: DataFrame) -> DataFrame:
        """Take over a frame the step persisted itself; released as `cut`'s."""
        self.held.append(df)
        return df

    def emit(self, df: DataFrame) -> DataFrame:
        """`cut_lineage(df)`, kept as part of the loop's result."""
        df = cut_lineage(df)
        self.emitted.append(df)
        return df


def shrink_rounds(
    name: str,
    residual: DataFrame,
    step: Callable[[DataFrame, ShrinkRound], DataFrame | None],
    max_rounds: int,
    *,
    tail: Callable[[list, int], tuple[DataFrame, int]] | None = None,
    finish: Callable[[DataFrame], DataFrame] | None = None,
    fixpoint: bool = False,
    size: Column | None = None,
) -> DataFrame:
    """Run an operator whose rounds rewrite a shrinking frame — an edge
    set being peeled, matched or contracted — rather than a per-node
    state (those run on `relax_rounds`). Returns one frame that a single
    `release` frees.

    Each round `step(residual, rnd)` returns the next residual (lazy),
    or None when the round finds `residual` already final. The loop cuts
    the residual's lineage and reads its row count from a
    `DataFrame.observe` metric on that cut, so sizing costs no job of
    its own; `size` (an aggregate Column) replaces the row count as the
    size the tail cutover compares, when the residual also carries rows
    the operator does not count. It stops when the residual is empty,
    when `step` returns None, or, with `fixpoint` (rounds that only ever
    delete rows), when a round leaves the row count unchanged.

    Driver-local tail: once the residual's size is at most TAIL_ROWS,
    its rows are collected and `tail(rows, index)` finishes the job on
    the driver, returning a local frame and the number of rounds it ran;
    it is skipped when the session does not broadcast
    (`session_broadcast_bytes(spark) == 0`), which runs every round in
    Spark. ConvergenceError(name, max_rounds) is raised when neither the
    rounds nor the tail finish within `max_rounds` rounds.

    Result: the frames the steps `emit`-ed, followed by the tail's frame
    or by `finish(residual)` (default: the residual itself), as one
    lineage-cut frame; a lone tail frame or residual is returned as is.

    Ownership: the residual the loop cut is released once the next one
    is cut; a step's `cut`/`hold` frames then too, its `carry` frames a
    round later, and everything left (emitted frames included) once the
    result is built, or on an exception.
    """
    spark = residual.sparkSession
    use_tail = tail is not None and session_broadcast_bytes(spark) > 0
    metrics = [F.count(F.lit(1)).alias("rows")]
    if size is not None:
        metrics.append(size.alias("size"))

    def cut_residual(df: DataFrame, k: int) -> tuple[DataFrame, int, int]:
        obs = Observation(f"{name}_residual_{k}")
        df = cut_lineage(df.observe(obs, *metrics))
        got = obs.get
        return df, got["rows"], got.get("size", got["rows"]) or 0

    live: dict[int, DataFrame] = {}  # every frame the loop holds, by id

    def own(dfs) -> None:
        live.update((id(df), df) for df in dfs)

    def drop(dfs) -> None:
        for df in dfs:
            release(live.pop(id(df), df))

    emitted: list[DataFrame] = []
    carried: list[DataFrame] = []
    result = None
    try:
        residual, rows, n = cut_residual(residual, 0)
        own([residual])
        last = None  # the tail's frame, once it ran
        k = 0
        while rows:
            if k == max_rounds:
                raise ConvergenceError(name, max_rounds)
            if use_tail and n <= TAIL_ROWS:
                last, ran = tail(residual.collect(), k)
                if k + ran > max_rounds:
                    raise ConvergenceError(name, max_rounds)
                break
            rnd = ShrinkRound(k)
            try:
                nxt = step(residual, rnd)
            finally:
                own(rnd.held + rnd.carried + rnd.emitted)
            emitted += rnd.emitted
            if nxt is None:
                break
            nxt, nxt_rows, n = cut_residual(nxt, k + 1)
            own([nxt])
            k += 1
            drop([residual, *rnd.held, *carried])
            stable = fixpoint and nxt_rows == rows
            residual, rows, carried = nxt, nxt_rows, rnd.carried
            if stable:
                break
        tail_end = last is not None
        if not tail_end:
            last = residual if finish is None else finish(residual)
        pieces = emitted + [last]
        result = pieces[0]
        for piece in pieces[1:]:
            result = result.unionByName(piece)
        if len(pieces) > 1 or not (tail_end or last is residual):
            result = cut_lineage(result)
        return result
    finally:
        live.pop(id(result), None)
        drop(list(live.values()))


# --------------------------------------------------------------------------
# driver-loss recovery: durable round snapshots
# --------------------------------------------------------------------------
#
# Honest scope note, probe-verified (tests/test_driver_loss.py): neither
# localCheckpoint nor reliable DataFrame.checkpoint survives DRIVER loss.
# Reliable checkpoint files are serialized InternalRow partitions keyed by
# the owning SparkContext's id; Spark exposes no public API to rehydrate
# them into a NEW driver (RDD#checkpointFile is private[spark], and the
# DataFrame layer has nothing at all). Executor loss: covered (round-9
# kill probe). Driver loss: the application must own its durable state —
# which is standard practice for long iterative Spark jobs (the cluster
# manager re-submits the app; the app resumes from its own snapshots).
#
# `resumable_rounds` is that ownership, factored once: each round's state
# is written as parquet under <state_dir>/round=K (the _SUCCESS marker
# commits the snapshot atomically — a snapshot interrupted by the crash
# has no marker and is ignored on resume), and a fresh driver restarts
# the loop from the newest COMMITTED round instead of round 0. Reading
# the snapshot back also truncates lineage, so inside this loop no extra
# cut_lineage is needed.


def _fs_exists(spark, path: str) -> bool:
    """Existence check through the JVM Hadoop FileSystem, so DFS paths
    (hdfs://, s3a://) work the same as local ones."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def _fs_write_text(spark, path: str, text: str) -> None:
    """Small-file text write through the Hadoop FileSystem (DFS-safe)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    out = p.getFileSystem(conf).create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark, path: str) -> str:
    """Small-file text read through the Hadoop FileSystem (DFS-safe)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    stream = p.getFileSystem(conf).open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _const_repr(const) -> str:
    """Canonical repr for code constants: frozensets (compiled from
    `x in {...}` literals) have hash-randomized iteration order, so their
    plain repr differs BETWEEN PROCESSES for the same source — sort the
    elements first (r12 ADVICE: otherwise the same job can spuriously
    refuse its own resume). Tuples recurse because they can nest
    frozensets."""
    if isinstance(const, frozenset):
        return "frozenset{" + ",".join(sorted(_const_repr(c) for c in const)) + "}"
    if isinstance(const, tuple):
        return "(" + ",".join(_const_repr(c) for c in const) + ",)"
    return repr(const)


def _code_fingerprint(fn) -> str:
    """Best-effort fingerprint of a callable's OWN compiled code
    (bytecode + names + non-code constants canonicalized via
    `_const_repr`, nested code objects recursed).

    Scope (r12 ADVICE, deliberately honest): this covers only the
    callable's own code object. A step() that calls a module-level
    helper keeps its fingerprint when the helper's BODY changes —
    co_names records just the helper's name — and closure-cell values
    are not hashed at all. The guard catches the common failure (the
    job function itself was edited between runs), not every possible
    logic change; callers who restructure shared helpers should clear
    the state_dir. Bytecode also varies across CPython versions, which
    is why `resumable_rounds` records the interpreter version as a
    SEPARATE meta field with its own actionable error."""
    h = hashlib.sha256()

    def feed(code) -> None:
        h.update(code.co_code)
        h.update(repr(code.co_names).encode())
        h.update(repr(code.co_varnames).encode())
        for const in code.co_consts:
            if hasattr(const, "co_code"):
                feed(const)
            else:
                h.update(_const_repr(const).encode())

    code = getattr(fn, "__code__", None)
    if code is None:  # functools.partial, builtins, callables — best effort
        inner = getattr(fn, "func", None)
        if inner is not None and hasattr(inner, "__code__"):
            feed(inner.__code__)
            h.update(repr(getattr(fn, "args", ())).encode())
            h.update(repr(sorted(getattr(fn, "keywords", {}).items())).encode())
        else:
            h.update(repr(getattr(fn, "__qualname__", fn)).encode())
    else:
        feed(code)
    return h.hexdigest()


def resumable_rounds(
    spark,
    state_dir: str,
    init,
    step,
    rounds: int,
    snapshot_every: int = 1,
    on_round=None,
) -> DataFrame:
    """Run `rounds` iterations of `step`, driver-loss-recoverably.

    init() -> DataFrame               initial round-0 state
    step(state, k) -> DataFrame       state after round k (1-based);
                                      must be deterministic given state
                                      (all engine operators are — pinned
                                      by the scan-scramble boards)
    snapshot_every                    snapshot cadence; rounds between
                                      snapshots are recomputed on resume
                                      (cost/durability trade; the rounds
                                      between snapshots are lineage-cut
                                      instead)
    on_round(k)                       optional progress hook (the kill
                                      probe keys its SIGKILL off it)

    Resume contract: a fresh driver pointed at the same state_dir skips
    every round at-or-before the newest committed snapshot. The final
    state is ALWAYS snapshotted so a completed run is a no-op to re-run.

    Job-identity guard (round-11 ADVICE): the first run writes a
    fingerprint of init/step's compiled code (+ snapshot cadence + the
    interpreter version, which gets its own distinct error on mismatch)
    to <state_dir>/_job_meta.json; a resume whose fingerprint differs
    REFUSES with ValueError instead of silently resuming from another
    job's state. The code fingerprint is best-effort — it covers the
    callables' own code objects, not the bodies of helpers they call
    (see `_code_fingerprint`). `rounds` is deliberately NOT part of the identity:
    step is deterministic, so the round-K snapshot of a longer run IS
    the correct round-K state of a shorter one (resuming a completed
    10-round dir with rounds=8 correctly returns the round-8 snapshot
    of the SAME job; only changed logic is refused).
    """
    meta_path = f"{state_dir}/_job_meta.json"
    py_version = "%d.%d" % sys.version_info[:2]
    meta = {
        "init": _code_fingerprint(init),
        "step": _code_fingerprint(step),
        "snapshot_every": snapshot_every,
        # bytecode (co_code) is not comparable across interpreter
        # versions; record the version explicitly so a cross-version
        # resume gets ITS OWN actionable error instead of a misleading
        # "job logic changed" (r12 ADVICE)
        "python": py_version,
    }
    fingerprint = json.dumps(meta, sort_keys=True)
    if _fs_exists(spark, meta_path):
        existing = _fs_read_text(spark, meta_path)
        if existing != fingerprint:
            try:
                old_py = json.loads(existing).get("python")
            except ValueError:
                old_py = None
            if old_py is not None and old_py != py_version:
                raise ValueError(
                    f"resumable_rounds: state_dir {state_dir!r} was written "
                    f"under Python {old_py} but this run is Python "
                    f"{py_version}. Code fingerprints are bytecode-based and "
                    "not comparable across interpreter versions, so resume "
                    "compatibility cannot be verified. Re-run under Python "
                    f"{old_py}, or start from a fresh state_dir."
                )
            raise ValueError(
                f"resumable_rounds: state_dir {state_dir!r} holds snapshots "
                "of a DIFFERENT job (init/step code or snapshot cadence "
                "changed since they were written). Point at a fresh "
                "state_dir or delete the old one; refusing to resume from "
                f"incompatible state.\n  on disk: {existing}\n  now:     "
                f"{fingerprint}"
            )
    else:
        _fs_write_text(spark, meta_path, fingerprint)
    start, state = 0, None
    for k in range(rounds, 0, -1):
        if k % snapshot_every and k != rounds:
            continue
        if _fs_exists(spark, f"{state_dir}/round={k}/_SUCCESS"):
            state = spark.read.parquet(f"{state_dir}/round={k}")
            start = k
            break
    if state is None:
        state = init()
    for k in range(start + 1, rounds + 1):
        state = step(state, k)
        if k % snapshot_every == 0 or k == rounds:
            state.write.mode("overwrite").parquet(f"{state_dir}/round={k}")
            state = spark.read.parquet(f"{state_dir}/round={k}")
        else:
            state = cut_lineage(state)
        if on_round is not None:
            on_round(k)
    return state
