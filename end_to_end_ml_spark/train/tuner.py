"""Hyperparameter search (reference §2.9 H1-H6,
src/training/core/optimizer.py).

The reference drives Optuna TPE on the driver with each trial fitting on the
(cached) preprocessed training data. Optuna is not in this container, so the
engine ships a self-contained driver-side implementation of BOTH samplers
with the same search-space grammar (categorical list / int range / float
range, optional log scale — optimizer.py:144-166) and the same flow:
sample → fit → score on validation → keep best → refit.

- ``sampler="random"``: independent draws (H1).
- ``sampler="tpe"`` (H3): a Tree-structured Parzen Estimator in the shape
  of the reference's TPESampler use (optimizer.py:329-400): n_startup
  random trials, then per-parameter good/bad Parzen mixtures split at the
  gamma quantile (direction-aware), candidates drawn from the good mixture
  and ranked by l(x)/g(x). Under parallelism, RUNNING trials join the bad
  group — the constant-liar trick, discouraging duplicate in-flight
  samples (reference's constant_liar=True for its Dask path).

Scale notes (SURVEY §4): the train/validation frames should be cached
ONCE before the loop so ~N trials reuse them (the reference's manual CSE,
optimizer.py:10-19 / train.py:350-353) — the frames of
operators.split.train_valid_calib_test already are filters over one
persisted carve. Concurrent
trials (parallel_jobs>1, H4) submit Spark jobs from driver threads; pass
``spark`` so each thread is pinned to its own FAIR-scheduler pool
(``spark.scheduler.pool``; the session factory sets
``spark.scheduler.mode=FAIR``) — without pools the trials' jobs queue
FIFO and concurrency buys nothing.
"""

from __future__ import annotations

import random
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from math import ceil, exp, log, pi, sqrt


# Search-space grammar: name -> ("categorical", [choices]) |
# ("int", lo, hi) | ("float", lo, hi) | ("float_log", lo, hi)
SearchSpace = dict[str, tuple]


def sample_params(space: SearchSpace, rng: random.Random) -> dict:
    """H1: one parameter draw (categorical / int / linear / log-scale)."""
    out = {}
    for name, spec in space.items():
        kind = spec[0]
        if kind == "categorical":
            out[name] = rng.choice(spec[1])
        elif kind == "int":
            out[name] = rng.randint(spec[1], spec[2])
        elif kind == "float":
            out[name] = rng.uniform(spec[1], spec[2])
        elif kind == "float_log":
            out[name] = exp(rng.uniform(log(spec[1]), log(spec[2])))
        else:
            raise ValueError(f"unknown param kind {kind!r} for {name!r}")
    return out


def _parzen_pdf(x: float, centers: list[float], bw: float, lo: float, hi: float) -> float:
    """Mixture of normals at the observations + one uniform prior component
    over [lo, hi] (keeps densities nonzero everywhere, as Optuna's prior
    weight does)."""
    total = 1.0 / (hi - lo) if hi > lo else 1.0
    norm = 1.0 / (bw * sqrt(2.0 * pi))
    for c in centers:
        z = (x - c) / bw
        total += norm * exp(-0.5 * z * z)
    return total / (len(centers) + 1)


def _bandwidth(centers: list[float], lo: float, hi: float) -> float:
    span = (hi - lo) if hi > lo else 1.0
    return max(span / sqrt(len(centers) + 2.0), 1e-12 * span, 1e-300)


def tpe_sample(
    space: SearchSpace,
    rng: random.Random,
    trials: list["Trial"],
    direction: str = "maximize",
    n_startup_trials: int = 10,
    gamma: float = 0.25,
    n_candidates: int = 24,
) -> dict:
    """H3: one TPE draw given the study history. Falls back to a random draw
    during the startup phase. Each parameter is sampled independently
    (Optuna TPESampler's default multivariate=False)."""
    done = [t for t in trials if t.state == "complete" and t.value is not None]
    if len(done) < n_startup_trials:
        return sample_params(space, rng)
    ranked = sorted(done, key=lambda t: t.value, reverse=(direction == "maximize"))
    n_good = max(1, int(ceil(gamma * len(ranked))))
    good = ranked[:n_good]
    # constant-liar: in-flight trials are treated as bad outcomes so
    # concurrent workers don't all sample the same promising point
    bad = ranked[n_good:] + [t for t in trials if t.state == "running"]
    out = {}
    for name, spec in space.items():
        kind = spec[0]
        gvals = [t.params[name] for t in good if name in t.params]
        bvals = [t.params[name] for t in bad if name in t.params]
        if kind == "categorical":
            choices = list(spec[1])
            def smoothed(vals):
                c = {ch: 1.0 for ch in choices}
                for v in vals:
                    c[v] = c.get(v, 1.0) + 1.0
                tot = sum(c[ch] for ch in choices)
                return {ch: c[ch] / tot for ch in choices}
            lw, gw = smoothed(gvals), smoothed(bvals)
            cands = rng.choices(choices, weights=[lw[ch] for ch in choices], k=n_candidates)
            out[name] = max(cands, key=lambda ch: lw[ch] / gw[ch])
            continue
        lo, hi = float(spec[1]), float(spec[2])
        logscale = kind == "float_log"
        to_t = (lambda v: log(v)) if logscale else (lambda v: float(v))
        lo_t, hi_t = to_t(lo), to_t(hi)
        glist = [to_t(v) for v in gvals] or [(lo_t + hi_t) / 2.0]
        blist = [to_t(v) for v in bvals] or list(glist)
        bw_g = _bandwidth(glist, lo_t, hi_t)
        bw_b = _bandwidth(blist, lo_t, hi_t)
        best_x, best_score = None, None
        for _ in range(n_candidates):
            x = rng.choice(glist) + rng.gauss(0.0, bw_g)
            x = min(max(x, lo_t), hi_t)
            score = _parzen_pdf(x, glist, bw_g, lo_t, hi_t) / _parzen_pdf(
                x, blist, bw_b, lo_t, hi_t
            )
            if best_score is None or score > best_score:
                best_x, best_score = x, score
        val = exp(best_x) if logscale else best_x
        if kind == "int":
            val = int(min(max(round(val), spec[1]), spec[2]))
        else:
            val = min(max(val, lo), hi)  # exp(log(hi)) can overshoot by 1 ulp
        out[name] = val
    return out


@dataclass
class Trial:
    number: int
    params: dict
    value: float | None = None
    state: str = "pending"
    error: str | None = None


@dataclass
class Study:
    direction: str = "maximize"
    trials: list[Trial] = field(default_factory=list)

    @property
    def best_trial(self) -> Trial:
        done = [t for t in self.trials if t.state == "complete"]
        if not done:
            raise ValueError("no completed trials")
        key = (lambda t: t.value) if self.direction == "maximize" else (lambda t: -t.value)
        return max(done, key=key)

    def to_rows(self) -> list[dict]:
        """H6: trials log as plain rows (→ small DataFrame / CSV)."""
        return [
            {"number": t.number, "value": t.value, "state": t.state, **{f"param_{k}": v for k, v in t.params.items()}}
            for t in self.trials
        ]


def tune(
    objective: Callable[[dict], float],
    space: SearchSpace,
    n_trials: int = 20,
    direction: str = "maximize",
    seed: int = 42,
    parallel_jobs: int = 1,
    timeout_secs: float | None = None,
    sampler: str = "random",
    n_startup_trials: int = 10,
    spark=None,
) -> Study:
    """H2/H3/H4: run the search. Failure isolation per trial (a crashed fit
    marks the trial failed and continues — reference trainer.py:387-391).

    ``sampler="tpe"`` samples each trial lazily from the study history
    (startup random, then Parzen good/bad ratio; running trials count as
    bad — constant-liar). Pass ``spark`` with ``parallel_jobs>1`` to pin
    each worker thread to its own FAIR-scheduler pool so concurrent
    trials' Spark jobs share executors instead of queueing FIFO."""
    import time as _time

    if sampler not in ("random", "tpe"):
        raise ValueError(f"sampler must be 'random' or 'tpe'; got {sampler!r}")
    rng = random.Random(seed)
    study = Study(direction=direction)
    lock = threading.Lock()
    t0 = _time.monotonic()

    def next_trial() -> Trial:
        with lock:
            if sampler == "tpe":
                params = tpe_sample(
                    space,
                    rng,
                    study.trials,
                    direction=direction,
                    n_startup_trials=n_startup_trials,
                )
            else:
                params = sample_params(space, rng)
            trial = Trial(len(study.trials), params, state="running")
            study.trials.append(trial)
            return trial

    def run_one(_task_idx: int) -> None:
        trial = next_trial()
        if timeout_secs is not None and _time.monotonic() - t0 > timeout_secs:
            trial.state = "skipped_timeout"
            return
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            # Pool keyed by the EXECUTING THREAD, not the task index:
            # Spark local properties are thread-local, so two concurrent
            # tasks that happened to share a task-index-derived key would
            # share one FAIR pool and starve each other. Thread identity
            # is the only key that matches the property's scoping.
            sc.setLocalProperty(
                "spark.scheduler.pool", f"tuner-pool-{threading.get_ident()}"
            )
        try:
            trial.value = float(objective(trial.params))
            trial.state = "complete"
        except Exception as e:  # failure isolation
            trial.state = "failed"
            trial.error = str(e)
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.scheduler.pool", None)

    if parallel_jobs > 1:
        with ThreadPoolExecutor(max_workers=parallel_jobs) as pool:
            list(pool.map(run_one, [i % parallel_jobs for i in range(n_trials)]))
    else:
        for i in range(n_trials):
            run_one(0)
    return study
