"""Distributed logistic regression via IRLS (X8 adjunct — the
model-in-pipeline tier).

Large-corpus curation pipelines train a SMALL linear quality classifier
over cheap document features and filter by its score (the public
recipe: CCNet's fastText-linear quality model, the GPT-3 paper's
LR-against-WebText filter). The training loop is
iteratively-reweighted least squares, restated for Spark the same way
k-means and OLS are here:

* Per iteration, the ONLY distributed work is one aggregate job over
  the feature frame computing the k(k+1)/2 weighted Gram sums
  ``sum(w * x_i * x_j)`` and the k response sums ``sum(w * x_i * z)``
  — all JVM column expressions with map-side partial aggregation, no
  UDF, no shuffle of rows (the agg reduces straight to one row).
* The k x k normal-equation solve happens driver-side on numpy —
  model-sized (k ~ 5 features), never data-sized, exactly the bounded
  driver-collect policy SCALE.md documents for k-means centroids and
  the BPE merge table.

At 100 TB the cost is ``iterations`` scans with tiny partial states;
beta never leaves the driver between iterations except as literals
folded into the next iteration's expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def logistic_regression_irls(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iterations: int = 8,
    ridge: float = 1e-6,
    tol: float | None = 1e-8,
) -> list[float]:
    """Fit logistic regression, returning the coefficient list aligned
    with ``feature_cols`` (include a constant column for an intercept).

    ``ridge`` adds a small L2 diagonal so separable fixtures cannot
    blow up the solve. ``iterations`` is the MAX; the loop early-stops
    when the relative deviance delta falls under ``tol`` (IRLS on a
    well-scaled design converges in 3-4 — a fixed-8 loop measured
    wasting half its wall). The deviance rides the SAME
    per-iteration aggregate as the Gram sums (one extra column — the
    softplus form max(eta,0)+log1p(exp(-|eta|)) so no log(0)/overflow
    under ANSI), so early stopping costs zero extra jobs and saves
    whole scans. Pass ``tol=None`` for the fixed-iteration mode
    (deterministic job count regardless of data).
    """
    import numpy as np

    k = len(feature_cols)
    x = [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("double")
    beta = [0.0] * k
    prev_dev: float | None = None
    for _ in range(iterations):
        eta = x[0] * F.lit(beta[0])
        for i in range(1, k):
            eta = eta + x[i] * F.lit(beta[i])
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        wgt = mu * (F.lit(1.0) - mu) + F.lit(1e-12)
        z = eta + (y - mu) / wgt
        aggs = []
        for i in range(k):
            for j in range(i, k):
                aggs.append(F.sum(wgt * x[i] * x[j]))
        for i in range(k):
            aggs.append(F.sum(wgt * x[i] * z))
        if tol is not None:
            # -loglik = sum(softplus(eta) - y*eta); deviance = 2x that
            softplus = F.greatest(eta, F.lit(0.0)) + F.log1p(F.exp(-F.abs(eta)))
            aggs.append(F.sum(F.lit(2.0) * (softplus - y * eta)))
        row = df.agg(*aggs).first()
        if row is None or row[0] is None:
            # sum() over zero rows aggregates to NULL; without this
            # guard the float(...) below dies with a bare TypeError
            raise ValueError(
                "logistic_regression_irls: empty training frame "
                "(no rows survived filtering; cannot fit)"
            )
        a = np.zeros((k, k))
        idx = 0
        for i in range(k):
            for j in range(i, k):
                a[i, j] = a[j, i] = float(row[idx])
                idx += 1
        b = np.array([float(row[idx + i]) for i in range(k)])
        a += ridge * np.eye(k)
        beta = [float(v) for v in np.linalg.solve(a, b)]
        if tol is not None:
            # deviance was computed at the PRE-update beta; comparing
            # consecutive pre-update deviances is the standard IRLS stop
            dev = float(row[idx + k])
            if prev_dev is not None and abs(prev_dev - dev) <= tol * (
                abs(prev_dev) + 1.0
            ):
                break
            prev_dev = dev
    return beta


def predict_proba(df: DataFrame, feature_cols: list[str], beta: list[float]) -> F.Column:
    """Score column for a fitted model: sigmoid(x . beta), pure JVM."""
    eta = F.col(feature_cols[0]).cast("double") * F.lit(beta[0])
    for i in range(1, len(feature_cols)):
        eta = eta + F.col(feature_cols[i]).cast("double") * F.lit(beta[i])
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
