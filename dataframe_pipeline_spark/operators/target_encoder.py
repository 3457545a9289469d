"""TargetEncoder — smoothed mean-target encoding; HashingEncoder —
the feature-hashing trick.  The two high-cardinality categorical
encoders the reference's label/frequency/one-hot family lacks.

TargetEncoder (sklearn ``TargetEncoder`` / CatBoost-style smoothing):
``code(c) = (n_c * mean_c + m * global_mean) / (n_c + m)`` — categories
with few observations shrink toward the global mean (``m`` is the
smoothing pseudo-count).  Fit is ONE grouped aggregate (count + mean
per category, both partial-aggregatable) plus a global 1-row agg;
fitted state is a :class:`~..base.FittedLookup` per column, applied by
broadcast-gated join — at 100 TB a hundred-million-row category table
stays a join, never a driver literal.  Unseen categories and NULL get the global mean
(sklearn's unseen behavior).

HashingEncoder: ``bucket(c) = md5_int(c) % n_buckets`` — stateless
(nothing to fit, nothing to ship), collision-accepting, map-only.
The standard trick when the category space is unbounded (URLs, user
agents): no vocabulary pass, no unseen-category problem, bounded
output dimensionality.  md5 (not xxhash) so the bucket ids are
engine-portable and oracle-replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import LOOKUP_BROADCAST_MAX_ROWS, FittedLookup, SparkDFPBase


class TargetEncoder(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, target: str = None,
                 smoothing: float = 20.0):
        if not target:
            raise ValueError("target column is required")
        if smoothing < 0:
            raise ValueError("smoothing must be >= 0")
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.target = target
        self.smoothing = float(smoothing)
        self.global_mean_ = None
        # per input: FittedLookup(__cat_<out> -> __code_<out>)
        self.lookups_ = []

    def fit(self, df: DataFrame, **params):
        t = F.col(self.target).cast("double")
        m = F.lit(self.smoothing)
        self.lookups_ = []
        if not self.inputs:
            self.global_mean_ = df.agg(F.avg(t)).collect()[0][0]
            return self
        for i, (c, o) in enumerate(zip(self.inputs, self.outputs)):
            # ONE scan per column: NULL categories are kept in the
            # grouped aggregate so the global mean falls out of the
            # same pass (sum of sums / sum of counts == avg), and the
            # tiny per-category frame is materialized so the broadcast
            # gate's count() and every transform read fitted state
            # instead of re-scanning the training data.
            stats = (df.groupBy(F.col(c).alias("__cat"))
                     .agg(F.count(t).alias("__n"), F.sum(t).alias("__s"))
                     .localCheckpoint())
            # ONE collect per column returns the broadcast-gate
            # cardinality AND (first column) the global-mean sums —
            # merging the former lk.count() job into the stats agg
            # (r13, guide §1.2: sf1 fit_transform 0.54 -> 0.35 s).  The
            # sum expressions are unchanged, so the global mean stays
            # bit-identical to the previous two-job fit.
            card = F.count(F.when(F.col("__cat").isNotNull(), 1))
            if i == 0:
                tot = stats.agg(F.sum("__n").alias("n"),
                                F.sum("__s").alias("s"),
                                card.alias("c")).collect()[0]
                self.global_mean_ = (float(tot["s"]) / float(tot["n"])
                                     if tot["n"] else None)
                n_cats = tot["c"]
            else:
                n_cats = stats.agg(card.alias("c")).collect()[0]["c"]
            g = F.lit(self.global_mean_)
            mean = F.col("__s") / F.col("__n")
            # lookup columns are named after the output column, so two
            # encoded columns never share a name in one plan
            lk = (stats.filter(F.col("__cat").isNotNull())
                  .select(F.col("__cat").alias(f"__cat_{o}"),
                          ((F.col("__n") * mean + m * g)
                           / (F.col("__n") + m)).alias(f"__code_{o}")))
            # cardinality resolved AT FIT (fit runs jobs; transform must
            # stay job-free)
            self.lookups_.append(FittedLookup(lk, f"__cat_{o}", n_cats))
        return self

    def transform(self, df: DataFrame, serving: bool = False) -> DataFrame:
        if self.global_mean_ is None:
            raise RuntimeError("TargetEncoder.transform before fit")
        for c, o, lk in zip(self.inputs, self.outputs, self.lookups_):
            df = lk.apply(df, F.col(c), {o: f"__code_{o}"},
                          F.lit(self.global_mean_), serving)
        return df

    def serving_transform(self, df: DataFrame) -> DataFrame:
        return self.transform(df, serving=True)


class CVTargetEncoder(SparkDFPBase):
    """Leakage-free (out-of-fold) target encoding for TRAINING frames.

    Plain target encoding leaks: a row's own target contributes to the
    code it is trained on, and the model memorizes the leak.  The
    standard fix is K-fold out-of-fold encoding — each row receives
    the smoothed mean computed from every fold EXCEPT its own.

    Spark-first shape: folds are content-addressed (``md5(fold_key) %
    cv_folds`` — deterministic, partition-independent, same construct
    as :func:`sources.kfold_assign`), and the out-of-fold statistics
    come from complement arithmetic, NOT K separate fits: one grouped
    aggregate produces per-(category, fold) (count, sum), a
    re-aggregation of that tiny frame gives per-category totals, and
    ``oof = (total - fold) / (n_total - n_fold)`` — one scan of the
    data regardless of K.  The code table keyed by (category, fold)
    applies by broadcast-gated join on the same key pair.

    A category seen ONLY in a row's own fold has no out-of-fold
    evidence → global mean (the unseen-category rule applied at fold
    granularity).  Serving/inference frames have no fold and no
    target: encode them with the plain :class:`TargetEncoder` fitted
    on the full training set — the pair (CV for train, plain for
    serve) is the standard deployment.
    """

    def __init__(self, inputs=None, outputs=None, target: str = None,
                 fold_key: str = None, cv_folds: int = 5,
                 smoothing: float = 20.0):
        if not target:
            raise ValueError("target column is required")
        if not fold_key:
            raise ValueError("fold_key column is required "
                             "(use a stable row/group id)")
        if cv_folds < 2:
            raise ValueError("cv_folds must be >= 2")
        if smoothing < 0:
            raise ValueError("smoothing must be >= 0")
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.target = target
        self.fold_key = fold_key
        self.cv_folds = int(cv_folds)
        self.smoothing = float(smoothing)
        self.global_mean_ = None
        self.lookups_ = []          # per input: DataFrame(__cat, __fold, __code)
        self.cards_ = []

    def _fold_col(self):
        h = F.conv(F.substring(F.md5(F.col(self.fold_key).cast("string")),
                               1, 8), 16, 10).cast("bigint")
        return F.pmod(h, F.lit(self.cv_folds)).cast("int")

    def fit(self, df: DataFrame, **params):
        t = F.col(self.target).cast("double")
        m = F.lit(self.smoothing)
        self.lookups_, self.cards_ = [], []
        if not self.inputs:
            self.global_mean_ = df.agg(F.avg(t)).collect()[0][0]
            return self
        for i, c in enumerate(self.inputs):
            # ONE scan per column (same device as TargetEncoder.fit):
            # NULL categories ride the (cat, fold) aggregate so the
            # global mean is a re-sum of the materialized tiny frame,
            # and the complement arithmetic + transform join all read
            # the checkpoint instead of re-scanning the training data.
            pf_all = (df.groupBy(F.col(c).alias("__cat"),
                                 self._fold_col().alias("__fold"))
                      .agg(F.count(t).alias("__nf"), F.sum(t).alias("__sf"))
                      .localCheckpoint())
            # ONE collect per column: the broadcast-gate cardinality is
            # |pf| (the tot join is N:1 — tot is grouped FROM pf, so
            # every non-null (cat, fold) row survives exactly once), so
            # it rides the global-mean agg instead of a lk.count() job
            # (r13, guide §1.2; sum expressions unchanged -> global
            # mean bit-identical).
            card = F.count(F.when(F.col("__cat").isNotNull(), 1))
            if i == 0:
                trow = pf_all.agg(F.sum("__nf").alias("n"),
                                  F.sum("__sf").alias("s"),
                                  card.alias("c")).collect()[0]
                self.global_mean_ = (float(trow["s"]) / float(trow["n"])
                                     if trow["n"] else None)
                n_codes = trow["c"]
            else:
                n_codes = pf_all.agg(card.alias("c")).collect()[0]["c"]
            g = F.lit(self.global_mean_)
            pf = pf_all.filter(F.col("__cat").isNotNull())
            tot = (pf.groupBy("__cat")
                   .agg(F.sum("__nf").alias("__n"), F.sum("__sf").alias("__s")))
            oof_n = F.col("__n") - F.col("__nf")
            oof_mean = (F.col("__s") - F.col("__sf")) / oof_n
            code = F.when(oof_n > 0,
                          (oof_n * oof_mean + m * g) / (oof_n + m)
                          ).otherwise(g)
            lk = (pf.join(tot, "__cat")
                  .select("__cat", "__fold", code.alias("__code")))
            self.lookups_.append(lk)
            self.cards_.append(n_codes)
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if self.global_mean_ is None:
            raise RuntimeError("CVTargetEncoder.transform before fit")
        out = df.withColumn("__dfp_fold", self._fold_col())
        for c, o, lk, n in zip(self.inputs, self.outputs, self.lookups_,
                               self.cards_):
            lkr = (lk.withColumnRenamed("__cat", f"__cat_{o}")
                     .withColumnRenamed("__fold", f"__fold_{o}")
                     .withColumnRenamed("__code", f"__code_{o}"))
            lkb = (F.broadcast(lkr) if n <= LOOKUP_BROADCAST_MAX_ROWS
                   else lkr)
            out = (out.join(lkb, (out[c] == F.col(f"__cat_{o}"))
                            & (out["__dfp_fold"] == F.col(f"__fold_{o}")),
                            "left")
                   .withColumn(o, F.coalesce(F.col(f"__code_{o}"),
                                             F.lit(self.global_mean_)))
                   .drop(f"__cat_{o}", f"__fold_{o}", f"__code_{o}"))
        return out.drop("__dfp_fold")


class HashingEncoder(SparkDFPBase):
    """Stateless feature hashing: ``md5_int(value) % n_buckets``.
    NULL maps to bucket NULL (missing stays missing)."""

    def __init__(self, inputs=None, outputs=None, n_buckets: int = 1024):
        if n_buckets < 2:
            raise ValueError("n_buckets must be >= 2")
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.n_buckets = int(n_buckets)

    def transform(self, df: DataFrame) -> DataFrame:
        updates = {}
        for c, o in zip(self.inputs, self.outputs):
            h = F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 8),
                       16, 10).cast("bigint")
            updates[o] = F.when(
                F.col(c).isNull(), None).otherwise(
                F.pmod(h, F.lit(self.n_buckets)).cast("int"))
        return df.withColumns(updates)
