"""Training-data mixing: token-budget selection and deterministic
stratified sampling.

A pretraining pipeline decides *what to keep* with two primitives:

- :func:`budget_sample` — per stratum (language, source, domain), rank
  by a preference (quality score) and keep documents until a token
  budget is exhausted. The greedy prefix-by-rank selection is what a
  curation spec means by "take the best N tokens of each language".
- :func:`hash_stratified_sample` — keep each row with a per-stratum
  probability, decided by a salted md5 of the row id instead of an RNG.
  Deterministic (re-runs and engines agree — it is oracle-checkable in
  plain SQL), stable under repartitioning, and trivially invertible for
  holdout splits (u >= f is the complement). This is how mixing weights
  ("2x en-wiki, 0.1x crawl") are applied at scale: a map-side filter,
  no shuffle, no state.

100 TB notes: budget_sample is a window cumsum — ONE shuffle on the
strata key, sort within partitions; its skew profile is the stratum
histogram (a 'web' stratum with 90 % of rows concentrates in one
partition's sort — acceptable because sorts spill, but pre-splitting
such a stratum by a salt and budgeting per split is the remedy when it
matters). hash_stratified_sample is embarrassingly parallel: pure
projection + filter, whole-stage codegen, zero shuffle.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "bootstrap_ci",
    "cluster_balanced_sample",
    "budget_sample",
    "keep_best_fraction",
    "hash_stratified_sample",
    "neyman_allocation",
    "hash_unit",
    "stratified_fixed_n",
    "target_mix_fractions",
    "target_mix_sample",
    "temperature_fractions",
    "temperature_sample",
    "unimax_allocation",
    "unimax_fractions",
    "unimax_sample",
    "weighted_sample_n",
    "split_stratified_exact",
]


def weighted_sample_n(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    salt: str = "",
    by: Optional[str] = None,
) -> DataFrame:
    """Exact weighted sampling WITHOUT replacement of ``n`` rows —
    the Efraimidis–Spirakis A-ES one-pass reservoir law (IPL 2006):
    every row draws key ``u^(1/w)`` for u uniform in [0,1) and the
    top-``n`` keys ARE an exact weighted sample without replacement.
    The fraction-based samplers above deliver expected counts; this
    delivers exact counts under true probability-proportional-to-size
    inclusion (a row with twice the weight is exactly twice as likely
    at the margin), which is what mixture recipes with hard budgets
    want.

    Laws (identical in the DuckDB twin):
    - u = ``hash_unit(id, salt)`` — deterministic, partitioning-
      independent, re-saltable per epoch (``rand(seed)`` is neither);
    - key = ``u^(1/w)`` computed as ``exp(ln(u)/w)`` with the u=0
      corner pinned to key 0 (pow would raise under ANSI on 0^x only
      for negative x, but the log form needs the explicit pin);
    - rows with ``w <= 0`` or NULL weight are excluded (zero-weight
      rows must have zero inclusion probability — and it keeps the
      1/w ANSI-safe);
    - ties (astronomically unlikely but hash-deterministic) break by
      id ascending.

    Shape: with ``by=None`` a global top-n — Catalyst plans
    TakeOrderedAndProject (per-partition heaps + one n-row merge,
    never a full sort). With ``by=`` a per-group row_number window
    (one shuffle on the group key), n rows per group."""
    if int(n) < 1:
        raise ValueError("n must be >= 1")
    w = F.col(weight_col).cast("double")
    u = hash_unit(F.col(id_col), salt)
    key = F.when(u > 0, F.exp(F.log(u) / w)).otherwise(F.lit(0.0))
    scored = df.filter(w.isNotNull() & (w > 0)).withColumn("__es", key)
    if by is None:
        out = scored.orderBy(F.desc("__es"), F.asc(id_col)).limit(int(n))
    else:
        win = Window.partitionBy(by).orderBy(
            F.desc("__es"), F.asc(id_col)
        )
        out = (
            scored.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") <= int(n))
            .drop("__rn")
        )
    return out.drop("__es")


def budget_sample(
    df: DataFrame,
    token_col: str,
    budget: int,
    strata: str | Sequence[str] | None = None,
    order_by: Sequence[Column] | None = None,
    keep_cum: bool = False,
) -> DataFrame:
    """Greedy prefix selection under a per-stratum token budget.

    Rows are ranked inside each stratum by ``order_by`` (MUST be a
    deterministic total order — end it with a unique id tiebreak) and
    kept while the running token total (including the current row)
    stays ≤ ``budget``. The cumsum runs over ALL rows in rank order, so
    the kept set is a strict prefix: the first overflowing document and
    everything ranked below it are dropped (greedy prefix, not
    knapsack — a later smaller document never "fits back in").

    ``strata=None`` ranks globally: a single-partition sort, fine for
    bounded inputs, wrong at corpus scale — prefer strata.
    ``keep_cum=True`` keeps the running total as ``cum_tokens``.
    """
    if order_by is None:
        raise ValueError(
            "order_by is required (end with a unique id for determinism)"
        )
    strata = (
        [] if strata is None else [strata] if isinstance(strata, str) else list(strata)
    )
    w = (
        (Window.partitionBy(*strata) if strata else Window.partitionBy())
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn(
        "cum_tokens", F.sum(F.col(token_col).cast("long")).over(w)
    ).filter(F.col("cum_tokens") <= F.lit(int(budget)))
    return out if keep_cum else out.drop("cum_tokens")


# P(Poisson(1) <= k), k = 0..5 — hard-coded literals so BOTH engines
# compare the identical doubles against the identical hash_unit value
# (the ladder is the engine-portable inverse CDF; k is capped at 6,
# which truncates < 1e-4 of the mass and keeps the ladder bounded)
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_boot: int = 100,
    level: float = 0.95,
    salt: str = "",
    round_to: Optional[int] = None,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the MEAN of
    ``value_col`` — error bars on any corpus metric (mean document
    length, mean quality score, dedup rate…) without collecting the
    corpus: each of ``n_boot`` replicates reweights every row by an
    independent Poisson(1) draw (the streaming-friendly resample —
    Chamandy et al. 2012, "Estimating uncertainty for massive data
    streams"; equivalent to the multinomial bootstrap as n → ∞), the
    replicate means are computed in one pass, and the CI is the exact
    percentile interval over the ``n_boot`` replicate statistics.

    Deterministic and engine-portable: the draw is the inverse-CDF
    ladder over ``hash_unit(id, salt + replicate)``, so the same rows
    produce the same replicates on any engine or partitioning, and a
    re-salt gives an independent bootstrap.

    Shape: ONE corpus scan exploded ×``n_boot`` map-side (the ladder
    is a CASE chain inside codegen), partial-aggregated to ``n_boot``
    (sum w, sum w·v) partials per task, one tiny shuffle, and a
    driver-sized percentile over ``n_boot`` rows. Returns ONE row
    (n_rows, point_est, lo, hi, n_boot).
    """
    nb = int(n_boot)
    if nb < 2:
        raise ValueError("n_boot must be >= 2")
    if not (0.0 < float(level) < 1.0):
        raise ValueError(f"level must be in (0, 1), got {level}")
    alpha = (1.0 - float(level)) / 2.0
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(value_col).cast("double").alias("__v"),
    ).filter(F.col("__v").isNotNull())
    rep = base.select(
        "__id",
        "__v",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("__r"),
    )
    u = hash_unit(
        F.concat(F.col("__id").cast("string"), F.lit(":"),
                 F.col("__r").cast("string")),
        salt,
    )
    w = F.lit(6)
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    # the unweighted sums ride the same groupBy (identical in every
    # replicate; max() reads them back), so the WHOLE operator is one
    # corpus scan — no second pass for the point estimate
    stats = (
        rep.withColumn("__w", w.cast("double"))
        .groupBy("__r")
        .agg(
            F.sum("__w").alias("sw"),
            F.sum(F.col("__w") * F.col("__v")).alias("swv"),
            F.sum("__v").alias("sv"),
            F.count("*").alias("c"),
        )
        .select(
            F.when(F.col("sw") > 0, F.col("swv") / F.col("sw"))
            .otherwise(F.lit(None))
            .alias("m"),
            "sv",
            "c",
        )
    )
    point = F.max("sv") / F.max("c")
    lo = F.percentile(F.col("m"), F.lit(alpha))
    hi = F.percentile(F.col("m"), F.lit(1.0 - alpha))
    if round_to is not None:
        nd = int(round_to)
        point, lo, hi = (F.round(c, nd) for c in (point, lo, hi))
    return stats.agg(
        F.max("c").cast("long").alias("n_rows"),
        point.alias("point_est"),
        lo.alias("lo"),
        hi.alias("hi"),
        F.lit(nb).cast("long").alias("n_boot"),
    )


def hash_unit(id_col: Column | str, salt: str = "") -> Column:
    """Deterministic uniform-ish u ∈ [0, 1) from a row id: the first 8
    hex chars of ``md5(salt || id)`` scaled by 2^32. Engine-portable —
    the DuckDB twin is ``hash_unit_sql`` in the oracle queries — and
    reproducible forever, unlike ``rand(seed)`` whose value depends on
    partitioning.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    hexpart = F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 8)
    return F.conv(hexpart, 16, 10).cast("double") / F.lit(float(2**32))


def hash_stratified_sample(
    df: DataFrame,
    id_col: str,
    fractions: Mapping[str, float],
    strata_col: str,
    default_fraction: float = 0.0,
    salt: str = "",
    keep_u: bool = False,
) -> DataFrame:
    """Keep each row iff ``hash_unit(id) < fractions[stratum]`` —
    deterministic per-stratum downsampling (mixing weights as a
    map-side filter; no shuffle, no RNG state).

    Strata absent from ``fractions`` fall back to ``default_fraction``
    (0 = drop). ``salt`` decorrelates independent sampling passes over
    the same ids; with the same salt the selections are nested
    (f=0.1 ⊂ f=0.5), which is exactly what you want for scaling a mix
    down reproducibly.
    """
    u = hash_unit(id_col, salt)
    frac = F.lit(float(default_fraction))
    # fold the mapping into a CASE chain (sorted for a deterministic
    # expression tree); fractions are literals, not a join
    for k in sorted(fractions):
        frac = F.when(
            F.col(strata_col) == F.lit(k), F.lit(float(fractions[k]))
        ).otherwise(frac)
    out = df.withColumn("_u", u).filter(F.col("_u") < frac)
    return out if keep_u else out.drop("_u")


def stratified_fixed_n(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    n: int,
    salt: str = "",
    keep_rank: bool = False,
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, chosen by salted
    hash rank — the deterministic replacement for per-group reservoir
    sampling ("eyeball 100 docs per language", "cap each domain at N").
    Unlike fraction sampling the output size is exact; unlike
    ``ORDER BY rand()`` it is reproducible and engine-portable.

    One shuffle (window over the stratum); rank ties are impossible for
    distinct ids (the hash is salted per id, tiebreak id). Skewed
    strata sort within their partition and spill — same profile as any
    per-stratum window; pre-split giant strata if the sort matters.
    """
    if int(n) < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = Window.partitionBy(strata_col).orderBy(
        hash_unit(id_col, salt).asc(), F.col(id_col).asc()
    )
    out = df.withColumn("_rank", F.row_number().over(w)).filter(
        F.col("_rank") <= int(n)
    )
    return out if keep_rank else out.drop("_rank")


def temperature_fractions(
    df: DataFrame, strata_col: str, alpha: float = 0.7, round_to: int = 9
) -> dict[str, float]:
    """Per-stratum keep fractions that re-shape the corpus mixture to
    temperature ``alpha`` (multilingual-pretraining convention, e.g.
    mT5/XLM-R: sampling probability ∝ p_i^α, α<1 boosting the tail).

    A hash filter can only DOWN-sample, so the fractions are scaled
    until the largest is exactly 1: f_i = p_i^(α-1) / max_j p_j^(α-1)
    — the rarest stratum is kept whole and everything more common is
    cut toward the tempered mix. Deterministic given the stratum
    histogram (one tiny aggregate; strata cardinality is languages or
    sources, not rows). Fractions are rounded so independent engines
    (the DuckDB oracle twin) compute bit-identical thresholds.
    """
    if not 0.0 <= float(alpha) <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    total = float(sum(counts.values()))
    if not total:
        return {}
    w = {k: (n / total) ** (float(alpha) - 1.0) for k, n in counts.items()}
    mx = max(w.values())
    return {k: round(v / mx, int(round_to)) for k, v in w.items()}


def target_mix_fractions(
    df: DataFrame,
    strata_col: str,
    target: dict[str, float],
    round_to: int = 9,
) -> dict[str, float]:
    """Per-stratum keep fractions that re-shape the corpus toward an
    EXPLICIT target mixture (the mixing spec every pretraining run
    carries: "30% web, 30% code, 20% books, 20% wiki") — the
    generalization of :func:`temperature_fractions` from p_i^α to
    arbitrary target weights.

    A hash filter only down-samples, so fractions are the largest
    feasible: r_i = t_i / p_i scaled until max r_i = 1 — the most
    under-represented stratum (relative to its target) is kept whole
    and everything else is cut to land the kept corpus ON the target
    ratios (exactly, in expectation; the salted-hash admission makes it
    deterministic per id). Strata absent from ``target`` are dropped
    (fraction 0). One tiny count aggregate; the filter itself is
    zero-shuffle map-side.
    """
    if not target:
        raise ValueError("target mixture must be non-empty")
    bad = {k: v for k, v in target.items() if v < 0}
    if bad:
        raise ValueError(f"negative target weights: {bad}")
    tot_t = float(sum(target.values()))
    if tot_t <= 0:
        raise ValueError("target weights must sum to > 0")
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    total = float(sum(counts.values()))
    if not total:
        return {}
    ratios = {
        k: (target.get(k, 0.0) / tot_t) / (n / total)
        for k, n in counts.items()
        if n > 0
    }
    mx = max(ratios.values())
    if mx <= 0:
        return {k: 0.0 for k in ratios}
    return {k: round(v / mx, int(round_to)) for k, v in ratios.items()}


def target_mix_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    target: dict[str, float],
    salt: str = "",
    keep_u: bool = False,
) -> DataFrame:
    """:func:`target_mix_fractions` + :func:`hash_stratified_sample`:
    deterministically re-mix the corpus to an explicit target spec.
    Cost = one count-by-stratum aggregate (tiny result) + a
    zero-shuffle map-side filter."""
    fracs = target_mix_fractions(df, strata_col, target)
    return hash_stratified_sample(
        df, id_col, fracs, strata_col, default_fraction=0.0,
        salt=salt, keep_u=keep_u,
    )


def temperature_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    alpha: float = 0.7,
    salt: str = "",
    keep_u: bool = False,
) -> DataFrame:
    """:func:`temperature_fractions` + :func:`hash_stratified_sample`
    in one call: temper the stratum mixture deterministically. Cost =
    one count-by-stratum aggregate (map-side partial, tiny result) +
    a zero-shuffle map-side filter."""
    fracs = temperature_fractions(df, strata_col, alpha)
    return hash_stratified_sample(
        df, id_col, fracs, strata_col, default_fraction=0.0,
        salt=salt, keep_u=keep_u,
    )


def unimax_allocation(
    df: DataFrame,
    strata_col: str,
    budget: float,
    max_epochs: float = 2.0,
    weight_col: Optional[str] = None,
    round_to: Optional[int] = None,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151):
    split a total training budget across strata (languages) as
    UNIFORMLY as possible subject to the epoch cap — no stratum is
    repeated more than ``max_epochs`` times. The fairness-first
    alternative to temperature mixing: temperature still over-samples
    the head; UniMax gives every language the same budget until its
    cap binds.

    The sequential "smallest language first" allocation of the paper
    is exactly WATER-FILLING, so it solves in closed form with window
    functions instead of a driver loop: sort strata by cap = max_epochs
    x size ascending; a stratum is saturated iff its cap lies under
    the water level computed from the remaining budget; everyone else
    splits the rest evenly. Returns (``strata_col``, n, alloc, epochs)
    where n/alloc are row counts (or ``weight_col`` sums — tokens),
    epochs = alloc / n.

    Shape: one stratum-sized hash-agg + windows over the (tiny)
    stratum table — the corpus is touched once; fully deterministic
    and engine-portable (the DuckDB oracle replays the same window
    algebra).
    """
    if budget <= 0:
        raise ValueError("budget must be > 0")
    if max_epochs <= 0:
        raise ValueError("max_epochs must be > 0")
    w = F.count("*") if weight_col is None else F.sum(weight_col)
    c = df.groupBy(strata_col).agg(w.cast("double").alias("n"))
    order = Window.orderBy(F.asc("cap"), F.asc(strata_col))
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    everything = Window.partitionBy()
    B = F.lit(float(budget))
    s = (
        c.withColumn("cap", F.lit(float(max_epochs)) * F.col("n"))
        .withColumn("i", F.row_number().over(order))
        .withColumn("cum", F.sum("cap").over(cum))
        .withColumn("nl", F.count("*").over(everything))
        # water level if strata 1..i-1 are saturated; prefix property
        # of ascending caps makes the saturation test local
        .withColumn(
            "sat",
            F.col("cap")
            <= (B - (F.col("cum") - F.col("cap")))
            / (F.col("nl") - F.col("i") + 1),
        )
        .withColumn(
            "K", F.sum(F.when(F.col("sat"), 1).otherwise(0)).over(everything)
        )
        .withColumn(
            "capsum",
            F.sum(F.when(F.col("sat"), F.col("cap")).otherwise(0.0)).over(
                everything
            ),
        )
    )
    theta = F.when(
        F.col("nl") > F.col("K"),
        (B - F.col("capsum")) / (F.col("nl") - F.col("K")),
    )
    alloc = F.when(F.col("sat"), F.col("cap")).otherwise(theta)
    epochs = alloc / F.col("n")
    if round_to is not None:
        alloc = F.round(alloc, round_to)
        epochs = F.round(epochs, round_to)
    return s.select(
        strata_col,
        F.col("n").cast("long").alias("n"),
        alloc.alias("alloc"),
        epochs.alias("epochs"),
    )


def unimax_fractions(
    df: DataFrame,
    strata_col: str,
    budget: float,
    max_epochs: float = 2.0,
    round_to: int = 9,
) -> dict[str, float]:
    """Per-stratum keep fractions from :func:`unimax_allocation`
    (clamped at 1 — a hash filter can only down-sample; epochs > 1
    are a serving-loop concern, see ``curriculum.shuffle_assign``).
    The allocation table is stratum-sized, so the collect is bounded.
    """
    rows = unimax_allocation(df, strata_col, budget, max_epochs).collect()
    return {
        r[strata_col]: round(min(1.0, r["alloc"] / r["n"]), int(round_to))
        for r in rows
        if r["n"]
    }


def unimax_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    budget: float,
    max_epochs: float = 2.0,
    salt: str = "",
    keep_u: bool = False,
) -> DataFrame:
    """:func:`unimax_fractions` + :func:`hash_stratified_sample`: cut
    the corpus to a UniMax mix deterministically — one tiny aggregate
    plus a zero-shuffle map-side filter, like the temperature and
    target-mix samplers."""
    fracs = unimax_fractions(df, strata_col, budget, max_epochs)
    return hash_stratified_sample(
        df, id_col, fracs, strata_col, default_fraction=0.0,
        salt=salt, keep_u=keep_u,
    )


def keep_best_fraction(
    df: DataFrame,
    score_col: str,
    strata_col: str,
    q: float,
    id_col: str,
    ascending: bool = False,
) -> DataFrame:
    """Per-stratum quality thresholding: keep the best ``q`` fraction
    of each stratum by score — the adaptive form of a global cutoff
    (a fixed perplexity/quality threshold over- or under-cuts every
    language whose score distribution differs; CCNet's head/middle/
    tail bucketing is the 3-way special case, this is the continuous
    one).

    ``ascending=False`` keeps high scores (quality), ``True`` keeps
    low (perplexity). Deterministic: percent_rank over (score, id) —
    the id tiebreak makes ranks row-unique and engine-portable.

    Shape: one shuffle on the stratum key with per-stratum sorts (the
    same profile as any per-stratum window); never a global sort.
    """
    if not (0.0 < q <= 1.0):
        raise ValueError(f"q must be in (0, 1], got {q}")
    if q >= 1.0:
        # percent_rank of a stratum's last row is exactly 1.0, so the
        # strict '<' below would silently drop the worst row of every
        # multi-row stratum — "keep 100%" must keep everything.
        return df
    order = (
        [F.asc(score_col), F.asc(id_col)]
        if ascending
        else [F.desc(score_col), F.asc(id_col)]
    )
    w = Window.partitionBy(strata_col).orderBy(*order)
    return (
        df.withColumn("_pr", F.percent_rank().over(w))
        .filter(F.col("_pr") < float(q))
        .drop("_pr")
    )


def cluster_balanced_sample(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    centroids: DataFrame,
    n_per_cluster: int,
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid",
    salt: str = "",
    keep_cluster: bool = True,
) -> DataFrame:
    """Diversity-first selection: cap every embedding-space REGION at
    ``n_per_cluster`` rows — coverage over redundancy, the
    cluster-balanced sampling step of diversity-aware data selection
    (the sampling counterpart of ``semantic_dedup``: instead of
    dropping near-identical pairs, each k-means cell keeps a fixed
    quota, so dense template farms stop dominating the mixture while
    sparse regions survive whole).

    Pure composition of two existing laws — ``ann.ivf_assign``
    (map-side nearest-centroid, zero shuffle) feeding
    ``stratified_fixed_n`` on the centroid id (salted-hash rank, exact
    per-stratum n, deterministic and engine-portable; re-salt for a
    fresh draw). One scan + one per-cluster window; no corpus collect.
    """
    from tidyvec_spark.operators.ann import ivf_assign

    # NULL embeddings cannot be placed in a cell (engine NULL law) —
    # excluded explicitly rather than quota'd into a NULL stratum
    assigned = ivf_assign(
        df.filter(F.col(emb_col).isNotNull()),
        emb_col,
        id_col,
        centroids,
        cent_id=cent_id,
        cent_vec=cent_vec,
    )
    out = stratified_fixed_n(
        assigned, id_col, cent_id, int(n_per_cluster), salt=salt
    )
    return out if keep_cluster else out.drop(cent_id)


def neyman_allocation(
    df: DataFrame,
    value_col: str,
    strata_col: str,
    total_n: int,
    round_to: int = 6,
    scale: int = 1_000_000,
) -> DataFrame:
    """Neyman OPTIMAL allocation of a sampling budget across strata
    (Neyman 1934): alloc_h ∝ N_h·σ_h — minimum-variance estimation of
    the population mean under a fixed total sample size, the
    principled answer to "how many docs do I audit per source?"
    (proportional allocation over-samples homogeneous strata; equal
    allocation wastes budget on small ones). Returns one row per
    stratum: (``strata_col``, n_rows, sigma, alloc) with
    Σ alloc == ``total_n`` exactly.

    Laws, INTEGER-EXACT end to end (the negative-sampling boundary
    discipline): σ_h is the population stddev ROUNDED to ``round_to``
    (absorbing engine accumulation-order ulps), the weight is
    wi_h = round(σ_h·scale)·N_h accumulated in DECIMAL(38,0) (int64
    overflows at N_h ~1e12 · σ ~1e4; requires σ·scale < 2^53 so the
    pre-round double is exact), base_h = total_n·wi_h // Σwi and
    remainders assign the leftover by largest-remainder (Hamilton)
    with the (remainder desc, stratum asc) tie law — no float share
    ever reaches a floor boundary, so both engines agree bit-for-bit
    at any scale (the oracle accumulates in HUGEINT). Zero-variance strata get weight 0 (one
    observation determines them; Neyman's law, documented not
    patched); if EVERY stratum has zero variance the allocation is
    undefined and the plan errors at execution (ANSI zero division —
    use proportional allocation instead). alloc_h can exceed N_h when variance
    concentrates in a tiny stratum — callers sampling without
    replacement should lower ``total_n`` or clamp explicitly.

    Shape: one stratum-sized hash-agg over the corpus (persisted —
    the leftover count and the rank both re-read it), then windows
    over the tiny stratum table."""
    from pyspark.sql import Window

    if int(total_n) < 1:
        raise ValueError("total_n must be >= 1")
    t = int(total_n)
    stats = (
        df.groupBy(strata_col)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(
                F.coalesce(
                    F.stddev_pop(F.col(value_col).cast("double")),
                    F.lit(0.0),
                ),
                int(round_to),
            ).alias("sigma"),
        )
        .withColumn(
            # σ·scale is mathematically an integer (σ is rounded to
            # round_to ≤ 6 dp, scale = 10^6); round() kills the float
            # ulp, then the ×n_rows multiply runs in DECIMAL(38,0) —
            # an int64 __wi overflows at n_rows ~1e12 · σ ~1e4 (the
            # h_sum manifest pattern). Requires σ·scale < 2^53 so the
            # pre-round double is exact (σ < ~9e9 at scale 10^6).
            "__wi",
            (
                F.round(F.col("sigma") * int(scale), 0)
                .cast("decimal(19,0)")
                * F.col("n_rows").cast("decimal(19,0)")
            ).cast("decimal(38,0)"),
        )
        .persist()
    )
    z = stats.agg(F.sum("__wi").cast("decimal(38,0)").alias("__z"))
    based = (
        stats.crossJoin(F.broadcast(z))
        .withColumn(
            "__num",
            (F.lit(t).cast("decimal(19,0)") * F.col("__wi")).cast(
                "decimal(38,0)"
            ),
        )
        .withColumn("__base", F.expr("__num div __z").cast("long"))
        .withColumn("__rem", F.col("__num") % F.col("__z"))
    )
    left = based.agg((F.lit(t) - F.sum("__base")).alias("__left"))
    rk = Window.orderBy(F.desc("__rem"), F.asc(strata_col))
    out = (
        based.crossJoin(F.broadcast(left))
        .withColumn("__rk", F.row_number().over(rk))
        .select(
            strata_col,
            "n_rows",
            "sigma",
            (
                F.col("__base")
                + F.when(F.col("__rk") <= F.col("__left"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
    )
    out._tidyvec_persisted = [stats]
    return out


def split_stratified_exact(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weights: "Sequence[int]" = (8, 1, 1),
    names: "Sequence[str]" = ("train", "val", "test"),
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic STRATIFIED split with EXACT per-stratum counts:
    every stratum contributes floor(n_s·w_i/W) rows to split i plus
    largest-remainder leftovers (the Hamilton law shared with
    :func:`neyman_allocation`, tie = split order) — so a 80/10/10
    split means 80/10/10 IN EVERY STRATUM, not in expectation. A
    hash-ranked row order (hash_unit(id, salt), id) makes assignment
    a pure function of the id and salt: re-running on a re-partitioned
    or re-sorted copy yields byte-identical splits, and adding a new
    stratum never reshuffles existing ones (each stratum ranks
    independently). The per-row hash gate (mix_sample_langs) only
    hits ratios in expectation; leakage-free splitting by GROUP is
    :func:`~tidyvec_spark.operators.dedup.split_leakage_free` — this
    is the exact-count per-stratum third member.

    Integer-exact end to end: weights are ints, boundaries are
    cumulative largest-remainder counts, rank is a window over
    (stratum, hash, id). One window shuffle on the stratum key; the
    per-stratum count frame is bounded by |strata|."""
    from pyspark.sql import Window

    weights = [int(w) for w in weights]
    names = [str(n) for n in names]
    if len(weights) != len(names) or not weights:
        raise ValueError("weights and names must align and be non-empty")
    if any(w < 0 for w in weights) or sum(weights) <= 0:
        raise ValueError("weights must be non-negative with positive sum")
    W = sum(weights)
    k = len(weights)

    counts = df.groupBy(F.col(strata_col).alias("__g")).agg(
        F.count("*").cast("long").alias("__n")
    )
    # exact per-stratum targets: base = n·w_i div W, then remainders
    # r_i = n·w_i mod W assign the leftover by (r desc, i asc)
    bases = [F.expr(f"(__n * {w}) div {W}") for w in weights]
    rems = [F.expr(f"(__n * {w}) % {W}") for w in weights]
    left = F.col("__n") - sum(bases[1:], bases[0])
    # rank the k remainders: split i gets +1 iff its remainder-rank
    # (1-based, ties to lower i) ≤ leftover
    extra = []
    for i in range(k):
        ahead = []
        for j in range(k):
            if j == i:
                continue
            beats = (
                (rems[j] > rems[i]) if j > i else (rems[j] >= rems[i])
            )
            ahead.append(F.when(beats, 1).otherwise(0))
        rank_i = sum(ahead[1:], ahead[0]) + 1 if ahead else F.lit(1)
        extra.append(F.when(rank_i <= left, 1).otherwise(0))
    cuts = []
    acc = None
    for i in range(k):
        c = bases[i] + extra[i]
        acc = c if acc is None else acc + c
        cuts.append(acc.cast("long").alias(f"__cut{i}"))
    bounds = counts.select("__g", *cuts)

    u = hash_unit(F.col(id_col).cast("string"), salt)
    w_rank = Window.partitionBy(strata_col).orderBy(
        u.asc(), F.col(id_col).asc()
    )
    ranked = df.withColumn("__rk", F.row_number().over(w_rank))
    label = None
    for i in range(k - 1, -1, -1):
        cond = F.col("__rk") <= F.col(f"__cut{i}")
        label = (
            F.when(cond, F.lit(names[i]))
            if label is None
            else F.when(cond, F.lit(names[i])).otherwise(label)
        )
    return (
        ranked.join(
            F.broadcast(bounds),
            F.col(strata_col).eqNullSafe(F.col("__g")),
        )
        .withColumn(out_col, label)
        .drop("__rk", "__g", *[f"__cut{i}" for i in range(k)])
    )


def doremi_weights(
    per_doc: DataFrame,
    domain_col: str,
    loss_col: str,
    steps: int = 8,
    eta_den: int = 10,
    total: int = 1_000_000,
    round_to: Optional[int] = None,
) -> DataFrame:
    """Learned domain mixture weights in the DoReMi style (Xie et al.
    2023): starting uniform, repeatedly upweight domains whose loss
    EXCEEDS the global mean — the multiplicative-weights play that
    gives the mixing family (temperature / target / unimax / Neyman /
    rank-weighted) its learned member. ``per_doc`` carries one row per
    document with its domain and a proxy per-document loss (here: the
    quality classifier's log-loss stands in for the paper's
    proxy-vs-reference excess loss).

    Engine-portable by construction — every step is exact integer
    arithmetic on a bounded per-domain frame:

    - per-document losses are scaled once to int64 (``round(loss *
      total)``), so domain sums are exact in any order;
    - the excess is integer floor-div means,
      ``max(0, S_d div n_d - S_g div n_g)``, CLIPPED at ``total``
      (one nat) — the paper's per-step update clipping, which also
      bounds every intermediate below 2^63;
    - the update is the LINEARIZED multiplicative weights rule
      ``w' = w * (eta_den*total + excess) div (eta_den*total)``
      (i.e. w *= 1 + eta*excess with eta = 1/eta_den) — the linear MW
      variant replaces exp() whose last ULP differs across engines;
    - each step renormalizes to ``sum = total`` by largest remainder
      (the Hamilton law shared with neyman_allocation /
      split_stratified_exact; remainder ties broken by domain asc).

    100 TB shape: ONE corpus-scan aggregate produces the per-domain
    (sum, count) frame; the ``steps`` window passes run over
    |domains| rows regardless of corpus size, and applying the learned
    weights downstream is the same zero-shuffle salted-hash filter as
    every other mix entry.

    Returns one row per domain: (``domain_col``, n_docs, mean_loss,
    excess, weight) with weight summing exactly to 1 over domains
    (in ``1/total`` units).
    """
    if int(steps) < 0:
        raise ValueError("steps must be >= 0")
    if int(eta_den) < 1 or int(total) < 1:
        raise ValueError("eta_den and total must be >= 1")
    tot, den = int(total), int(eta_den) * int(total)
    w_all = Window.partitionBy()
    w_dom = Window.orderBy(F.col(domain_col).asc())

    li = F.round(F.col(loss_col).cast("double") * tot, 0).cast("long")
    g = (
        per_doc.select(F.col(domain_col), li.alias("__l"))
        .groupBy(domain_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__l").cast("long").alias("__s"),
        )
        .withColumn("__sg", F.sum("__s").over(w_all))
        .withColumn("__ng", F.sum("n_docs").over(w_all))
        .withColumn(
            "__exc",
            F.least(
                F.greatest(
                    F.expr("__s div n_docs") - F.expr("__sg div __ng"),
                    F.lit(0).cast("long"),
                ),
                F.lit(tot).cast("long"),
            ),
        )
        .withColumn("__D", F.count("*").over(w_all))
        .withColumn("__rn", F.row_number().over(w_dom))
        .withColumn(
            "__w",
            (
                F.expr(f"{tot} div __D")
                + F.when(F.col("__rn") <= F.expr(f"{tot} % __D"), 1)
                .otherwise(0)
            ).cast("long"),
        )
    )
    w_rem = Window.orderBy(F.col("__rem").desc(), F.col(domain_col).asc())
    for _ in range(int(steps)):
        g = (
            g.withColumn(
                "__raw", F.expr(f"(__w * ({den} + __exc)) div {den}")
            )
            .withColumn("__tot", F.sum("__raw").over(w_all))
            .withColumn("__fl", F.expr(f"(__raw * {tot}) div __tot"))
            .withColumn("__rem", F.expr(f"(__raw * {tot}) % __tot"))
            .withColumn("__flsum", F.sum("__fl").over(w_all))
            .withColumn("__rk", F.row_number().over(w_rem))
            .withColumn(
                "__w",
                (
                    F.col("__fl")
                    + F.when(
                        F.col("__rk") <= F.lit(tot) - F.col("__flsum"), 1
                    ).otherwise(0)
                ).cast("long"),
            )
        )
    mean_loss = F.col("__s").cast("double") / F.col("n_docs") / F.lit(
        float(tot)
    )
    excess = F.col("__exc").cast("double") / F.lit(float(tot))
    weight = F.col("__w").cast("double") / F.lit(float(tot))
    if round_to is not None:
        r = int(round_to)
        mean_loss = F.round(mean_loss, r) + F.lit(0.0)
        excess = F.round(excess, r) + F.lit(0.0)
        weight = F.round(weight, r) + F.lit(0.0)
    return g.select(
        domain_col,
        "n_docs",
        mean_loss.alias("mean_loss"),
        excess.alias("excess"),
        weight.alias("weight"),
    )


def doremi_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    weights: DataFrame,
    salt: str = "",
) -> DataFrame:
    """Apply :func:`doremi_weights` to the corpus — the learned
    mixture's ADMISSION filter, completing the train→weights→resample
    loop the same way :func:`target_mix_sample` applies an explicit
    spec: keep fractions ``r_d = weight_d / observed_share_d`` scaled
    so the most UNDER-represented domain (relative to its learned
    weight) is kept whole, then the deterministic salted-md5 per-row
    gate shared by every mix entry.

    ``weights`` is the (domain, weight) frame from
    :func:`doremi_weights` (any simplex frame works). Domains absent
    from it are dropped — weight 0 — matching target_mix_sample's
    unlisted-stratum law. Fractions round at 9 decimals before the
    ``hash_unit`` comparison (the temperature_fractions convention) so
    the admission boundary is engine-identical.

    Shape: one domain-count aggregate over the corpus + the bounded
    weights join (broadcast; |domains| rows), then a ZERO-shuffle
    map-side filter — the weights loop never touches per-row data."""
    w_all = Window.partitionBy()
    cnt = df.groupBy(F.col(domain_col).alias("__dom")).agg(
        F.count("*").cast("long").alias("__n")
    ).withColumn("__tot", F.sum("__n").over(w_all).cast("double"))
    r = weights.select(
        F.col(domain_col).alias("__dom"), F.col("weight").alias("__w")
    ).join(cnt, "__dom").select(
        "__dom",
        (
            F.col("__w")
            / (F.col("__n").cast("double") / F.col("__tot"))
        ).alias("__r"),
    )
    f = r.select(
        "__dom",
        F.round(F.col("__r") / F.max("__r").over(w_all), 9).alias("__f"),
    )
    u = hash_unit(F.col(id_col), salt)
    return (
        df.withColumn("__u", u)
        .join(
            F.broadcast(f),
            F.col(domain_col) == F.col("__dom"),
        )
        .filter(F.col("__u") < F.col("__f"))
        .select(*df.columns)
    )
