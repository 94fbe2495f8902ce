"""Data-governance audits — k-anonymity and l-diversity over
quasi-identifier groupings, the privacy-review pass a training-data
pipeline runs before a corpus (or a telemetry join) ships: find the
identifier combinations whose groups are small enough to re-identify a
person, and the groups whose sensitive attribute is effectively
disclosed because it barely varies.

Definitions are the published ones (Sweeney 2002, k-anonymity;
Machanavasjhala et al. 2006, l-diversity): a table is k-anonymous under
a quasi-identifier (QI) tuple if every QI equivalence class has >= k
rows, and l-diverse for a sensitive column if every class contains >= l
distinct sensitive values.

Scale shape: both audits are ONE partial+final aggregation over the QI
columns — map-side combine compresses each partition to its distinct QI
groups, the shuffle carries (QI, partial count / partial distinct-set)
only, and the flagged output is by construction the SMALL tail of the
group-size distribution. l-diversity uses exact count(distinct) per
group, which Spark plans as a two-phase expand — for very wide sensitive
domains swap in approx_count_distinct at the call site.

Reference parity: the reference engine (ringoldsdev/laygo-python) has no
governance surface; this is uplift in the corpus-tooling family
(SURVEY.md §2.6/§7 posture, same as the dedup/ANN modules).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_long


def _qi_cols(quasi_cols: list[str | Column]) -> list[Column]:
    if not quasi_cols:
        raise ValueError("governance: need at least one quasi-identifier column")
    return [F.col(c) if isinstance(c, str) else c for c in quasi_cols]


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols: list[str | Column],
    k: int = 5,
) -> DataFrame:
    """QI groups with fewer than ``k`` rows — the re-identifiable
    classes. Returns one row per violating group: the QI columns plus
    ``group_size``. NULL QI values group together (standard audit
    posture: NULL is itself a disclosure bucket)."""
    cols = _qi_cols(quasi_cols)
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def k_anonymity_summary(
    df: DataFrame,
    quasi_cols: list[str | Column],
    k: int = 5,
) -> DataFrame:
    """One-row audit certificate: the table's achieved k (min group
    size), group counts, and the rows-at-risk total under threshold
    ``k``. This is the number that goes in the release report; the
    per-group detail is ``k_anonymity_violations``."""
    cols = _qi_cols(quasi_cols)
    sizes = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("group_size"))
    return sizes.agg(
        F.min("group_size").cast("long").alias("achieved_k"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("group_size") < k, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("groups_below_k"),
        F.sum(F.when(F.col("group_size") < k, F.col("group_size")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_at_risk"),
    )


def l_diversity_violations(
    df: DataFrame,
    quasi_cols: list[str | Column],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """QI groups whose sensitive column takes fewer than ``l`` distinct
    values — attribute disclosure even when the group is large enough to
    pass k-anonymity. Returns the QI columns plus ``group_size`` and
    ``distinct_sensitive``. NULL sensitive values are excluded from the
    distinct count (count(distinct) semantics in both engines)."""
    cols = _qi_cols(quasi_cols)
    return (
        df.groupBy(*cols)
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct(sensitive_col).cast("long").alias("distinct_sensitive"),
        )
        .filter(F.col("distinct_sensitive") < l)
    )


def t_closeness_violations(
    df: DataFrame,
    quasi_cols: list[str | Column],
    sensitive_col: str,
    t: float = 0.3,
) -> DataFrame:
    """QI groups whose sensitive-attribute distribution sits further
    than ``t`` (total-variation distance, the categorical instance of
    t-closeness's EMD — Li, Li & Venkatasubramanian 2007) from the
    table-wide distribution: even an l-diverse group leaks when its mix
    is SKEWED relative to the population ("this group is 90% one
    diagnosis"). Returns the QI columns plus ``group_size`` and
    ``tvd`` (rounded to 6; the threshold compares the rounded value so
    the flag set is engine-exact).

    Scale shape: the global distribution is one tiny broadcast
    aggregate; per-(group, sensitive) counts are one partial+final
    aggregation; the zero-fill grid is |groups| × |sensitive domain|
    built by cross-joining the GROUP table (already aggregated, small)
    with the broadcast domain — raw rows are never touched again; the
    TVD fold is one aggregation over the grid. NULL sensitive values
    are excluded on BOTH the global and group sides (count-distinct
    semantics, mirroring l_diversity). NULL QUASI-identifier values are
    a group of their own (k_anonymity's "NULL is its own disclosure
    bucket" posture), so the grid join uses null-safe equality on every
    QI column — a plain equi-join would orphan a NULL-QI group from its
    own per-sensitive counts and report a spurious max-skew tvd (r9
    advice)."""
    cols = _qi_cols(quasi_cols)
    base = df.filter(F.col(sensitive_col).isNotNull())
    tot = base.count()
    if tot == 0:
        raise ValueError("t_closeness_violations: no non-NULL sensitive rows")
    global_p = F.broadcast(
        base.groupBy(sensitive_col).agg(
            (F.count(F.lit(1)) / F.lit(float(tot))).alias("__p")
        )
    )
    grp = base.groupBy(*cols).agg(F.count(F.lit(1)).alias("group_size"))
    gs = base.groupBy(*cols, F.col(sensitive_col)).agg(F.count(F.lit(1)).alias("__n"))
    qi_names = [df.select(c).columns[0] for c in cols]
    gs_r = gs.select(
        *[F.col(n).alias(f"__r_{n}") for n in qi_names],
        F.col(sensitive_col).alias("__r_sens"),
        "__n",
    )
    join_cond = F.col(sensitive_col).eqNullSafe(F.col("__r_sens"))
    for n in qi_names:
        join_cond = join_cond & F.col(n).eqNullSafe(F.col(f"__r_{n}"))
    grid = (
        grp.crossJoin(global_p)
        .join(gs_r, join_cond, "left")
        .select(
            *qi_names,
            "group_size",
            (
                F.abs(
                    F.coalesce(F.col("__n"), F.lit(0))
                    / F.col("group_size").cast("double")
                    - F.col("__p")
                )
            ).alias("__d"),
        )
    )
    return (
        grid.groupBy(*qi_names, "group_size")
        .agg(F.round(F.lit(0.5) * F.sum("__d"), 6).alias("tvd"))
        .filter(F.col("tvd") >= t)
        .select(*qi_names, "group_size", "tvd")
    )


def dp_laplace_counts(
    df: DataFrame,
    keys: list[str],
    epsilon: float = 1.0,
    salt: str = "dp",
    suppress_below: float | None = None,
) -> DataFrame:
    """Differentially-private-STYLE count release: per-group counts plus
    Laplace(1/ε) noise, the sensitivity-1 histogram mechanism (Dwork et
    al. 2006). Noise is derived DETERMINISTICALLY from md5(salt ⊕ key)
    via the inverse Laplace CDF — u ∈ (0,1) from the hash's first 32
    bits, noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|) — so the release is
    REPLAYABLE and oracle-gateable.

    HONESTY CAVEAT (read before production use): hash-derived noise is
    pseudo-random given the (public) salt, so this is a demonstration of
    the release MECHANICS (calibration, suppression, post-processing
    shape), not a cryptographic DP guarantee — an adversary who knows
    the salt can subtract the noise exactly. A production release swaps
    the hash for a CSPRNG draw (same formula), which is non-replayable
    by design. Same documented-fake posture as the multimodal synthetic
    codecs.

    ``suppress_below``: drop released rows whose NOISY count falls under
    the threshold (suppression decided on the noisy value is
    post-processing and costs no extra ε; deciding on the TRUE count
    would leak). Scale: one partial+final aggregation; the noise is a
    map-side expression over the |groups| result."""
    grp = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__true"))
    return dp_laplace_release(grp, keys, "__true", epsilon, salt, suppress_below)


def dp_laplace_release(
    counts: DataFrame,
    keys: list[str],
    count_col: str,
    epsilon: float = 1.0,
    salt: str = "dp",
    suppress_below: float | None = None,
) -> DataFrame:
    """Apply the Laplace(1/ε) release to an ALREADY-AGGREGATED counts
    table — the form an incremental pipeline needs: partial counts
    merge exactly (counter linearity) across batches/shards, and the
    noise is drawn ONCE at release time over the merged totals (noise
    per partial would add L noises of the same scale — a looser, wrong
    calibration). Same deterministic inverse-CDF draw and honesty
    caveat as ``dp_laplace_counts`` (which is now a thin groupBy +
    release)."""
    if epsilon <= 0:
        raise ValueError(f"dp_laplace_release: epsilon must be > 0, got {epsilon}")
    # NULL keys get an explicit sentinel: concat_ws silently DROPS null
    # components and their separators, so ('a', NULL) and (NULL, 'a')
    # would hash identically and receive the SAME noise — correlated
    # noise across distinct released rows. chr(0) can't collide with a
    # cast-to-string value.
    key_str = F.concat_ws(
        "\x1f",
        F.lit(salt),
        *[
            F.coalesce(F.col(k).cast("string"), F.lit("\x00null"))
            for k in keys
        ],
    )
    h = md5_long(key_str, 8) % F.lit(1000000)
    u = (h.cast("double") + F.lit(0.5)) / F.lit(1000000.0)
    t = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / epsilon)
        * F.signum(t)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t))
    )
    out = counts.select(
        *keys,
        F.round(F.col(count_col) + noise, 6).alias("noisy_count"),
        F.lit(float(epsilon)).alias("epsilon"),
    )
    if suppress_below is not None:
        out = out.filter(F.col("noisy_count") >= float(suppress_below))
    return out
