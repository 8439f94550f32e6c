"""Distributed linear-classifier TRAINING — the missing trainer half of
``text.model_quality_score`` (which does inference with plan-literal
weights). A curation pipeline that filters with a quality classifier
has to fit that classifier somewhere; at corpus scale the fit must be
a distributed pass, not a driver-side sklearn call over collected rows.

Design: full-batch logistic regression where EVERY iteration is one
Catalyst aggregate — the current weights enter the plan as literals
(exactly like the inference stage), so

    z      = w . x + b                  (codegen'd arithmetic)
    p      = sigmoid(z)
    grad_i = avg((p - y) * x_i) + l2 * w_i

is ``d + 2`` AVG aggregates over the persisted feature frame: partial
aggregation map-side, a d-float row to the driver, a d-float update.
No UDF, no collected data, driver state = the model (KBs). For the
feature widths this engine produces (4-32 quality signals), full-batch
GD with standardized features converges in tens of iterations — tens
of sub-second jobs over a persisted frame. 100 TB shape: each
iteration is a scan of the persisted (label, features) projection —
cost O(iters x scan); when that matters, fit on a bounded uniform
sample exactly like ``pq_train`` (train_max_rows) — classifier quality
saturates far below corpus size.

Reference parity note: the reference has no model training of any kind
(SURVEY.md §2) — north-star scope, the fastText-classifier stage of
the published LLM curation pipelines (CCNet, DCLM).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lazy_frame_spark.pins import pin_scope

__all__ = ["train_logreg", "logreg_score"]


def _standardizer(stats_row, feature_cols) -> tuple[list[float], list[float]]:
    means, stds = [], []
    for c in feature_cols:
        m = float(stats_row[f"__m_{c}__"] or 0.0)
        s = float(stats_row[f"__s_{c}__"] or 0.0)
        means.append(m)
        stds.append(s if s > 0 else 1.0)
    return means, stds


def train_logreg(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    iters: int = 60,
    lr: float = 2.0,
    l2: float = 1e-4,
    standardize: bool = True,
    train_max_rows: int | None = 1_000_000,
    seed: int = 7,
) -> dict:
    """Fit logistic regression by full-batch gradient descent, one
    Catalyst aggregate per iteration (see module docstring). ``df``
    needs numeric ``feature_cols`` and a 0/1 ``label_col``. Returns
    the model as a plain dict — ``{"weights", "bias", "means",
    "stds", "loss", "n_rows"}`` — consumable by :func:`logreg_score`
    (or by ``text.model_quality_score`` after folding the
    standardization into the weights).

    Determinism note: cross-partition float-sum order makes the last
    ulp of the fit run-dependent (same caveat as every trained model
    in this package — pq_train, coarse_train_cosine); validate trained
    models with invariant bars, not bit-equality.

    ``train_max_rows`` bounds the fit cost on huge corpora via a
    uniform sample (classifier quality saturates long before corpus
    size); None fits on everything."""
    import math

    d = len(feature_cols)
    if d == 0:
        raise ValueError("at least one feature column required")
    feats = df.select(
        F.col(label_col).cast("double").alias("__y__"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
    ).filter(F.col("__y__").isNotNull())
    if train_max_rows:
        n = feats.count()
        if n > train_max_rows:
            feats = feats.sample(train_max_rows / n, seed=seed)
    with pin_scope() as pin:
        feats = pin(feats)
        n_rows = feats.count()  # also materializes the persist
        if n_rows == 0:
            raise ValueError("no labeled rows to train on")
        if standardize:
            stats = feats.agg(*[
                a for c in feature_cols
                for a in (F.avg(c).alias(f"__m_{c}__"),
                          F.stddev_pop(c).alias(f"__s_{c}__"))
            ]).first()
            means, stds = _standardizer(stats, feature_cols)
        else:
            means, stds = [0.0] * d, [1.0] * d
        xs = [
            (F.col(c) - F.lit(means[i])) / F.lit(stds[i])
            for i, c in enumerate(feature_cols)
        ]
        w = [0.0] * d
        b = 0.0
        loss = float("nan")
        for _ in range(int(iters)):
            z = F.lit(b)
            for i in range(d):
                z = z + F.lit(w[i]) * xs[i]
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            r = p - F.col("__y__")
            # numerically-safe logloss: max(z,0) - z*y + log1p(exp(-|z|))
            ll = (F.greatest(z, F.lit(0.0)) - z * F.col("__y__")
                  + F.log1p(F.exp(-F.abs(z))))
            row = feats.agg(
                *[F.avg(r * xs[i]).alias(f"g{i}") for i in range(d)],
                F.avg(r).alias("gb"),
                F.avg(ll).alias("loss"),
            ).first()
            loss = float(row["loss"])
            # the saturation-safe logloss form stays FINITE while
            # diverging (it grows like |z|), so guard magnitude too:
            # logloss on 0/1 labels starts at ln2; 1e3 nats/row means
            # the weights exploded
            if not math.isfinite(loss) or loss > 1e3:
                raise ArithmeticError(
                    f"diverged (loss={loss}); lower lr from {lr}"
                )
            w = [w[i] - lr * (float(row[f"g{i}"]) + l2 * w[i])
                 for i in range(d)]
            b -= lr * float(row["gb"])
    return {
        "weights": w,
        "bias": b,
        "means": means,
        "stds": stds,
        "feature_cols": list(feature_cols),
        "loss": loss,
        "n_rows": n_rows,
    }


def logreg_score(
    df: DataFrame,
    model: dict,
    threshold: float = 0.5,
    score_col: str = "score",
    keep_col: str = "keep",
) -> DataFrame:
    """Apply a :func:`train_logreg` model: appends sigmoid score and a
    threshold verdict. Pure Catalyst — weights, bias and the
    standardization enter as plan literals, the same zero-Python
    inference shape as ``text.model_quality_score``."""
    z: Column = F.lit(float(model["bias"]))
    for i, c in enumerate(model["feature_cols"]):
        x = (F.col(c).cast("double") - F.lit(model["means"][i])) / F.lit(
            model["stds"][i])
        z = z + F.lit(float(model["weights"][i])) * x
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.withColumn(score_col, score).withColumn(
        keep_col, score >= F.lit(float(threshold)))
