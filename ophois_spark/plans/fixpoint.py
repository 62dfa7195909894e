"""One fixpoint driver for every iterative graph operator.

The reference's sequential while-loops (H4/H6 contractions, component
BFS, PageRank, ...) become rounds of DataFrame operations. This module
is the only code that decides, for those rounds, where lineage is cut,
how many rounds may run and when a loop has converged:

- **Lineage cut.** Every round's new state goes through
  :func:`stats_barrier`. The cut is lazy — the round's single stop
  action materializes it — except on every ``_TRUNC_EVERY``-th round,
  where it is eager: with one action per round, lazy checkpoints alone
  let the serialized RDD graph grow until the task deserializer
  overflows its stack (observed near round ~150 of 256 BPE merges).
- **Round cap.** ``max_rounds`` is a convergence cap: hitting it raises
  the one ``RuntimeError``, naming the operator and the cap, because
  returning a non-converged state would silently break the operator's
  contract. ``rounds`` is a budget instead: the loop runs at most that
  many rounds (all of them without a stop rule) and reaching it is a
  normal end.
- **Stop rules**, each one Spark action per round: :class:`changed`
  (no row changed this round), :class:`recurs` (the state's
  order-independent signature repeats an earlier round's),
  :class:`within` (mean L1 residual under a tolerance) and
  :class:`empty`; no rule means fixed rounds.

Why the barrier also resets statistics: Spark 4's
``Dataset.localCheckpoint`` truncates LINEAGE but keeps the source
plan's estimated statistics (``LogicalRDD.rewriteStatsAndConstraints``,
ExistingRDD.scala:263, observed in a driver jstack), and
``SizeInBytesOnlyStatsPlanVisitor`` estimates a join as the PRODUCT of
its children's sizeInBytes. Any loop whose round joins the previous
round's result into a new plan therefore compounds the estimate across
checkpoints: the Boruvka pointer-doubling self-join doubled the
BigInt's bit-length per jump (round 4 ≈ 300 s inside
``BigInteger.multiplyToomCook3`` at sf0.01, then driver OOM), and the
per-round aggregation of label propagation and PageRank does NOT
deflate it either — the optimized-plan ``sizeInBytes`` of
``connected_components``' result on a 16-page street grid had 9,544
digits, PageRank's on a 300-document overlay 474, and at 64 pages the
label loop died with ``OutOfMemoryError`` inside ``localCheckpoint``.
``stats_barrier`` rebuilds the Dataset from the checkpointed RDD via
``SparkSession.internalCreateDataFrame``, a fresh ``LogicalRDD`` with
default statistics, so the estimate restarts from
``defaultSizeInBytes`` every round (19 digits in both cases above).
Trade-off: a barriered relation reports an unknown (max) size and is
never chosen for an AUTO broadcast — the loops broadcast explicitly
where a side is known-small, and AQE re-measures real sizes at shuffle
boundaries.
"""

from __future__ import annotations

import dataclasses
import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)
_warned_fallback = False

_TRUNC_EVERY = 16  # every 16th round's cut is eager


def stats_barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + estimated-statistics truncation."""
    global _warned_fallback
    df = df.localCheckpoint(eager=eager)
    try:
        jdf = df._jdf
        spark = df.sparkSession
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, spark)
    except Exception as exc:  # pragma: no cover - internal-API drift fallback
        # A silent fallback re-enters the compounding-estimate cliff
        # (minutes per round, driver OOM) with no visible cause, so
        # make the degradation loud — once.
        if not _warned_fallback:
            _warned_fallback = True
            _log.warning(
                "stats_barrier: internalCreateDataFrame unavailable (%s: %s); "
                "falling back to plain localCheckpoint. Fixpoint loops may hit "
                "the Spark 4 statistics-compounding cliff — see module docstring.",
                type(exc).__name__,
                exc,
            )
        return df


def _pick(state, of: int | None):
    """The frame a stop rule reads: the state, or ``state[of]`` of a
    tuple state."""
    return state if of is None else state[of]


class changed:
    """Stop when no row of the state satisfies ``cond`` — the rows the
    round changed (``cond`` compares new columns with carried ``prev``
    ones)."""

    def __init__(self, cond: Column):
        self.cond = cond

    def __call__(self, state: DataFrame) -> bool:
        return state.filter(self.cond).count() == 0


class recurs:
    """Stop at the first round whose state reproduces an earlier
    round's, compared by an exact order-independent signature: row
    count, ``sum(total)`` and the xor of per-row ``xxhash64(*cols)``
    (just the count when no columns are given — enough for a state
    that only shrinks). With ``check_start`` the start state's
    signature counts as an earlier round's."""

    def __init__(self, *cols: str, total: str | None = None, of: int | None = None):
        self.cols, self.total, self.of = cols, total, of
        self.seen: set[tuple] = set()

    def __call__(self, state) -> bool:
        aggs = [F.count(F.lit(1))]
        if self.total is not None:
            aggs.append(F.sum(self.total))
        if self.cols:
            aggs.append(F.bit_xor(F.xxhash64(*self.cols)))
        sig = tuple(_pick(state, self.of).agg(*aggs).collect()[0])
        if sig in self.seen:
            return True
        self.seen.add(sig)
        return False


class within:
    """Stop when the mean L1 residual ``Σ|resid| / n`` drops below
    ``tol``."""

    def __init__(self, resid: Column, tol: float):
        self.resid, self.tol = resid, tol

    def __call__(self, state: DataFrame) -> bool:
        l1, n = state.agg(F.sum(F.abs(self.resid)), F.count(F.lit(1))).collect()[0]
        return (l1 or 0.0) / max(n, 1) < self.tol


class empty:
    """Stop when the probe is empty: a DataFrame (one ``isEmpty``
    action) or rows the step already collected (no action)."""

    def __init__(self, of: int | None = None):
        self.of = of

    def __call__(self, state) -> bool:
        probe = _pick(state, self.of)
        return probe.isEmpty() if isinstance(probe, DataFrame) else not probe


def _map_frames(state, fn):
    """Apply ``fn`` to every DataFrame in ``state``: a frame, a tuple
    or a dataclass (such as StreetGraph) of them, recursively; other
    values pass through."""
    if isinstance(state, DataFrame):
        return fn(state)
    if isinstance(state, tuple):
        return tuple(_map_frames(s, fn) for s in state)
    if dataclasses.is_dataclass(state) and not isinstance(state, type):
        return dataclasses.replace(
            state,
            **{f.name: _map_frames(getattr(state, f.name), fn) for f in dataclasses.fields(state)},
        )
    return state


def fixpoint(
    op: str,
    state,
    step,
    *,
    stop=None,
    max_rounds: int | None = None,
    rounds: int | None = None,
    check_start: bool = False,
):
    """Run ``state := step(state, cut)`` round by round → (state,
    rounds run).

    ``state`` is a DataFrame, a tuple of them (other values ride
    along untouched) or a dataclass of them. After each step the driver
    cuts every frame of the new state that the round built (frames
    passed through unchanged keep their cut), then ``stop(state)``
    performs the round's single action; the loop returns the state on
    which it fired. ``cut`` applies this round's barrier to an
    intermediate that several plans of the same round read (a frame it
    returns is not cut again). Give exactly one of ``max_rounds``
    (convergence cap: raises when hit) and ``rounds`` (budget: reaching
    it returns). With ``check_start`` the stop rule also sees the start
    state, and a start state that already satisfies it returns after 0
    rounds.
    """
    if (max_rounds is None) == (rounds is None):
        raise ValueError("give exactly one of max_rounds and rounds")
    limit = rounds if max_rounds is None else max_rounds
    if check_start and stop(state):
        return state, 0
    for r in range(1, limit + 1):
        eager = r % _TRUNC_EVERY == 0
        # frames of the input state and frames already cut this round
        # pass through: only what the round built gets a barrier (held
        # by id for the round, so no id is reused meanwhile)
        done: dict[int, DataFrame] = {}
        _map_frames(state, lambda df: done.setdefault(id(df), df))

        def cut(s, _eager=eager, _done=done):
            def one(df: DataFrame) -> DataFrame:
                if id(df) in _done:
                    return df
                out = stats_barrier(df, eager=_eager)
                _done[id(out)] = out
                return out

            return _map_frames(s, one)

        state = cut(step(state, cut))
        if stop is not None and stop(state):
            return state, r
    if max_rounds is None:
        return state, limit
    raise RuntimeError(f"{op} did not converge within {max_rounds} rounds")
