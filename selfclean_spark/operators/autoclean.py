"""Stage 6b — auto-threshold ("fraction_cut") of a score distribution.

Re-implements the reference's logistic-tail cut
(selfclean/cleaner/auto_cleaning_mixin.py:91-154) distributed:

1. keep scores strictly inside (0, 1)                      (:106-107)
2. logit transform  y = log(s / (1-s))                     (:109)
3. two empirical quantiles of y at p and sqrt(p/2)         (:114-115)
4. fit logistic loc/scale through those two quantiles
   (get_scale_loc, :219-227): scale = (q2-q1)/(ppf(p2)-ppf(p1)),
   loc = q1 - ppf(p1)*scale
5. cutoff = ppf(q·p·N/M)·scale + loc; flag y < cutoff      (:118-125)

For pair scores the reference squares alpha (M == condensed_size,
:102-105).  ``scipy.stats.logistic.ppf`` has the closed form
log(x/(1-x)) so no SciPy runs on executors — quantiles come from Spark
(exact ``percentile`` at test scale, ``approxQuantile`` at scale, per
SURVEY.md §7.4) and the two-point fit is driver arithmetic (C2/C3 in
SURVEY.md §2.8).

On the exact path the fit is ONE aggregation: the total and in-range
counts and both ``percentile``s.  A caller that already runs an action
over exactly the scored rows passes that aggregation along as an
Observation (:func:`fit_observation`), and the fit costs no job: the
pipeline's rankings observe it on their rank leaf's checkpoint
(``functions.rank.with_global_rank``).  The approximate path above
``EXACT_QUANTILE_MAX_ROWS`` in-range rows still counts first and runs
``approxQuantile``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def logistic_ppf(x: float) -> float:
    """scipy.stats.logistic.ppf closed form (loc 0, scale 1)."""
    return math.log(x / (1.0 - x))


def _observation_ready(obs: Observation) -> bool:
    """True iff the observed dataset already finished an action (so
    ``obs.get`` will not block).  Uses the JVM Observation's
    ``getOrEmpty`` probe; any reflection surprise degrades to False
    (the caller then falls back to a count job)."""
    try:
        return not obs._jo.getOrEmpty().isEmpty()
    except Exception:
        return False


@dataclass(frozen=True)
class FractionCut:
    cutoff_logit: float
    q1: float
    q2: float
    loc: float
    scale: float
    # lazy flagged-row count: rides the CALLER's first action over the
    # returned DataFrame as an Observation (zero extra jobs in the
    # normal materialize-then-inspect flow); reading it before any
    # action falls back to one count job.
    _n_flagged: int | None = None
    _obs: Observation | None = field(default=None, repr=False, compare=False)
    _flagged_df: DataFrame | None = field(default=None, repr=False, compare=False)

    @property
    def n_flagged(self) -> int:
        if self._n_flagged is None:
            n: int | None = None
            if self._obs is not None and _observation_ready(self._obs):
                n = int(self._obs.get["n_flagged"])
            if n is None and self._flagged_df is not None:
                n = self._flagged_df.filter(F.col("auto_issue")).count()
            object.__setattr__(self, "_n_flagged", 0 if n is None else n)
        return self._n_flagged


# above this many in-range rows the two fit quantiles switch from exact
# distributed `percentile` (a memory-heavy single aggregation at 10¹²
# pair scores) to Greenwald-Khanna `approxQuantile`
EXACT_QUANTILE_MAX_ROWS = 10_000_000


def _fit_probs(alpha: float, pair_scores: bool) -> tuple[float, float]:
    """The two fit quantile levels (p, sqrt(p/2)); pair scores square
    alpha (:102-105)."""
    p1 = alpha**2 if pair_scores else alpha
    return p1, (0.5 * p1) ** 0.5


def _fit_aggregates(score_col: str, p1: float, p2: float) -> list[Column]:
    """The exact path's one aggregation: counts + both fit quantiles
    (percentile over the conditional logit ignores out-of-range nulls,
    so no separate filtered pass is needed)."""
    logit_if_in = (
        f"if(({score_col} > 0) and ({score_col} < 1),"
        f" ln({score_col} / (1.0 - {score_col})), null)"
    )
    return [
        F.count(F.lit(1)).alias("m_total"),
        F.count(
            F.when((F.col(score_col) > 0) & (F.col(score_col) < 1), 1)
        ).alias("m_in"),
        F.expr(f"percentile({logit_if_in}, {p1})").alias("q1"),
        F.expr(f"percentile({logit_if_in}, {p2})").alias("q2"),
    ]


def fit_observation(
    score_col: str, alpha: float = 0.01, pair_scores: bool = False
) -> tuple[Observation, list[Column]]:
    """An Observation and the exact-path fit aggregation, to ride an
    action the caller runs anyway over exactly the rows it later passes
    to :func:`fraction_cut` (as ``fitted=``).  Same ``alpha`` and
    ``pair_scores`` as that call."""
    return Observation(), _fit_aggregates(
        score_col, *_fit_probs(alpha, pair_scores)
    )


def fraction_cut(
    scores: DataFrame,
    score_col: str,
    n_samples: int,
    alpha: float = 0.01,
    q: float = 0.05,
    pair_scores: bool = False,
    exact_quantiles: bool | None = None,
    approx_rel_err: float = 1e-4,
    fitted: Observation | None = None,
) -> tuple[DataFrame, FractionCut]:
    """Flag the low tail of ``score_col``; returns (scores + ``auto_issue``
    boolean column, fit diagnostics).

    ``n_samples`` is the reference's ``self.N`` (dataset size), used in
    the exclusion probability prob = q·p·N/M (:113), with M the TOTAL
    score count (the reference's ``len(scores)`` BEFORE the (0,1)
    range filter, auto_cleaning_mixin.py:102-113 — dedup outputs carry
    many dist==0 exact-dup pairs, so the two counts genuinely differ).

    ``exact_quantiles``: True/False force the path; None (default)
    auto-selects — exact below ``EXACT_QUANTILE_MAX_ROWS`` in-range
    rows, approxQuantile above (both paths satisfy the §5.2.6
    invariance test).

    ``fitted``: the Observation of a :func:`fit_observation` that
    already rode an action over ``scores``' rows — the exact path, with
    no aggregation job here.
    """
    p1, p2 = _fit_probs(alpha, pair_scores)
    aggs = _fit_aggregates(score_col, p1, p2)
    in_range_pred = (F.col(score_col) > 0) & (F.col(score_col) < 1)
    logit = F.log(F.col(score_col) / (1.0 - F.col(score_col)))

    if fitted is not None or exact_quantiles is True:
        # caller asserts the relation is small enough for exact
        # percentile → ONE aggregation: counts + both fit quantiles
        row = fitted.get if fitted is not None else scores.agg(*aggs).collect()[0]
        m_total, m_in = int(row["m_total"]), int(row["m_in"])
        if m_in < 2:
            out = scores.withColumn("auto_issue", F.lit(False))
            return out, FractionCut(float("-inf"), 0.0, 0.0, 0.0, 0.0, 0)
        q1, q2 = float(row["q1"]), float(row["q2"])
    else:
        # auto mode must learn m_in BEFORE deciding whether an exact
        # percentile is safe (it buffers all values) — count first
        counts = scores.agg(*aggs[:2]).collect()[0]
        m_total, m_in = int(counts["m_total"]), int(counts["m_in"])
        if m_in < 2:
            out = scores.withColumn("auto_issue", F.lit(False))
            return out, FractionCut(float("-inf"), 0.0, 0.0, 0.0, 0.0, 0)
        if exact_quantiles is None:
            exact_quantiles = m_in <= EXACT_QUANTILE_MAX_ROWS
        if exact_quantiles:
            row = scores.agg(*aggs[2:]).collect()[0]
            q1, q2 = float(row["q1"]), float(row["q2"])
        else:
            in_range = scores.filter(in_range_pred).withColumn("_logit", logit)
            q1, q2 = in_range.stat.approxQuantile(
                "_logit", [p1, p2], approx_rel_err
            )

    scale = (q2 - q1) / (logistic_ppf(p2) - logistic_ppf(p1))
    loc = q1 - logistic_ppf(p1) * scale
    prob = q * p1 * n_samples / m_total
    prob = min(max(prob, 1e-12), 1 - 1e-12)
    cutoff = logistic_ppf(prob) * scale + loc

    flagged = scores.withColumn(
        "auto_issue",
        F.when(
            (F.col(score_col) > 0) & (F.col(score_col) < 1),
            F.log(F.col(score_col) / (1.0 - F.col(score_col))) < F.lit(cutoff),
        ).otherwise(F.lit(False)),
    )
    obs = Observation()
    flagged = flagged.observe(
        obs,
        F.coalesce(
            F.sum(F.col("auto_issue").cast("long")), F.lit(0)
        ).alias("n_flagged"),
    )
    return flagged, FractionCut(cutoff, q1, q2, loc, scale, None, obs, flagged)
