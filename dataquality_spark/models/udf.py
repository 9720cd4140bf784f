"""Pipeline stage B: ONE fused model stage for both model stacks.

SURVEY.md §4.4: one struct-returning Arrow UDF per stage, so `text` crosses
the JVM↔Python boundary once. ``with_model_stage`` builds it around a
``Scorer`` — ``float_scorer`` (langid + trigram logprob, optional quality
classifier) or ``portable_scorer`` (fixed-point, SQL-replayable) — plus the
sparse scrub and the batched text stats. Artifacts are broadcast once via
``SparkContext.broadcast``; tasks never re-pickle driver globals per batch.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataquality_spark import spec
from dataquality_spark.functions.stats_batch import stats_batch
from dataquality_spark.models import langid as L, ngram_lm as LM, quality
from dataquality_spark.scrub import scrub_series_sparse


def score_batch(texts: pd.Series, langid_art: dict, lm_art: dict) -> pd.DataFrame:
    """Pure-pandas scoring — shared verbatim by the UDF and the oracle, so the
    per-row invariant is exact (the parity check then exercises the Spark
    plumbing: Arrow round-trip, nulls, broadcast, batching)."""
    pred_ix, conf = L.predict_batch(texts, langid_art)
    lp = LM.logprob_batch(texts, pred_ix, lm_art)
    langs = np.array(langid_art["langs"] + [None], dtype=object)
    pred_lang = langs[pred_ix]  # -1 → None
    lo, hi = lm_art["lo"], lm_art["hi"]
    ok = np.zeros(len(texts), dtype=bool)
    valid = (pred_ix >= 0) & ~np.isnan(lp)
    ok[valid] = (lp[valid] >= lo[pred_ix[valid]]) & (lp[valid] <= hi[pred_ix[valid]])
    return pd.DataFrame({"pred_lang": pred_lang, "lang_conf": conf,
                         "logprob": lp, "lp_ok": ok})


class Scorer(NamedTuple):
    """One model stack, as ``with_model_stage`` consumes it."""
    fields: list[T.StructField]   # the stack's own struct fields
    arts: dict[str, dict]         # artifacts with_model_stage broadcasts
    # (text, {name: artifact}) → frame of ``fields``; module-level, so the
    # UDF pickles it by reference
    kernel: Callable[[pd.Series, dict], pd.DataFrame]
    # JVM projection → r_lang_match, r_perplexity (+ r_quality)
    rules: Callable[[DataFrame], DataFrame]


# every stage struct ends with the sparse scrub (NULL = unchanged; the JVM
# coalesces — halves the Arrow return traffic) and the stats_batch counts
# that let the rules projection skip per-row JVM text passes (the gated
# ones are NULL where the ASCII gate rejects the row)
SHARED_FIELDS = (
    [T.StructField("scrubbed_text", T.StringType())]
    + [T.StructField(f, T.LongType()) for f in
       ("word_cnt", "nonws_len", "symbol_cnt", "nb_lines", "nb_distinct")]
    + [T.StructField("letterless", T.LongType()),
       T.StructField("stop_cnts", T.ArrayType(T.IntegerType()))])


def _emit_stats(out: pd.DataFrame, text: pd.Series) -> pd.DataFrame:
    """Append stats_batch columns to a fused-UDF result frame, turning the
    gated stats NULL wherever the row failed the ASCII fast-path gate."""
    st = stats_batch(text)
    fast = st.pop("fast")
    ll = st.pop("letterless").astype(object)
    ll[~fast] = None
    sc = st.pop("stop_cnts").astype(np.int32).tolist()
    for k, v in st.items():
        out[k] = v
    out["letterless"] = ll
    out["stop_cnts"] = [sc[i] if fast[i] else None for i in range(len(fast))]
    return out


def with_model_stage(spark: SparkSession, df: DataFrame,
                     scorer: Scorer) -> DataFrame:
    """Append the scorer's columns + rule flags, ``scrubbed_text`` and the
    precomputed text stats of ``text``, all from ONE Python runner (fusing
    the model and scrub UDFs measured 11.4s→9.8s for the UDF stages at
    sf0.1/local[32]: each ArrowEvalPython node ships `text` on its own)."""
    bcast = {k: spark.sparkContext.broadcast(a) for k, a in scorer.arts.items()}
    kernel = scorer.kernel  # the closure must not capture scorer.arts
    schema = T.StructType(scorer.fields + SHARED_FIELDS)

    # perfbench/ledger.py finds the stage's Python runner by this name
    @F.pandas_udf(schema)
    def score_scrub(text: pd.Series) -> pd.DataFrame:
        out = kernel(text, {k: b.value for k, b in bcast.items()})
        out["scrubbed_text"] = scrub_series_sparse(text)
        return _emit_stats(out, text)

    # nondeterministic: Catalyst may not duplicate or move the call when the
    # fields are extracted (the UDF is pure). Plans show ONE ArrowEvalPython
    # node per stage (tests/test_portable_models.py); that a deterministic
    # mark would re-evaluate is unmeasured, and dropping it changes the plan.
    udf = score_scrub.asNondeterministic()
    out = (df.withColumn("_m", udf(F.col("text")))
           .select("*", *(f"_m.{f}" for f in schema.fieldNames()))
           .drop("_m")
           .withColumn("scrubbed_text",
                       F.coalesce(F.col("scrubbed_text"), F.col("text"))))
    return scorer.rules(out)


# --- float stack (production default) ---------------------------------------

def _float_kernel(text: pd.Series, arts: dict) -> pd.DataFrame:
    out = score_batch(text, arts["langid"], arts["lm"])
    if "quality" in arts:
        out["q_prob"] = quality.predict_batch(text, arts["quality"])
    return out


def float_scorer(langid_art: dict, lm_art: dict,
                 quality_art: dict | None = None,
                 lang_optional: bool = False) -> Scorer:
    """pred_lang / lang_conf / logprob → r_lang_match + r_perplexity. With
    ``quality_art`` the learned quality classifier (models/quality.py)
    rides the same crossing as ``q_prob`` → ``r_quality``.

    ``lang_optional=True`` is the raw-crawl mode: pages straight from WARC
    carry no claimed language, so a NULL ``lang`` passes the language rule
    whenever the model is confident (the claimed-vs-predicted agreement
    check only applies where a claim exists)."""
    arts = {"langid": langid_art, "lm": lm_art}
    fields = [T.StructField("pred_lang", T.StringType()),
              T.StructField("lang_conf", T.DoubleType()),
              T.StructField("logprob", T.DoubleType()),
              T.StructField("lp_ok", T.BooleanType())]
    if quality_art is not None:
        arts["quality"] = quality_art
        fields.append(T.StructField("q_prob", T.DoubleType()))

    def rules(df: DataFrame) -> DataFrame:
        agree = F.col("pred_lang") == F.col("lang")
        if lang_optional:
            agree = F.col("lang").isNull() | agree
        out = (df.withColumn("r_lang_match",
                             F.col("pred_lang").isNotNull() & agree
                             & (F.col("lang_conf") >= spec.MIN_LANGID_CONF))
               .withColumn("r_perplexity", F.col("lp_ok"))
               .drop("lp_ok"))
        if quality_art is not None:
            out = out.withColumn(
                "r_quality", F.col("q_prob") >= spec.MIN_QUALITY_PROB)
        return out

    return Scorer(fields, arts, _float_kernel, rules)


# --- ENGINE-PORTABLE stack (exact-oracle pipeline path) ---------------------

# r_lang_match margin floor, in L_QSCALE units PER FEATURE: the portable
# analogue of MIN_LANGID_CONF (a softmax level has no integer mirror; a
# mean per-feature log-odds margin does — ≥0.01 nats/feature over the
# runner-up). Pinned here because both the UDF columns and the SQL oracle
# derive the rule from it.
L_MARGIN_PER_FEAT = 10_000


def _portable_kernel(text: pd.Series, arts: dict) -> pd.DataFrame:
    pred, margin, lg_n = L.portable_scores_batch(
        list(text.to_numpy(object)), arts["langid"])
    lm_n, lm_num = LM.lm_score_portable_batch(text.tolist(), pred, arts["lm"])
    return pd.DataFrame({"pred_idx": pred.astype(np.int32),
                         "lg_n": lg_n.astype(np.int32), "margin": margin,
                         "lm_n": lm_n.astype(np.int32), "lm_num": lm_num})


def portable_scorer() -> Scorer:
    """The fixed-point integer surfaces (models/langid.py § portable,
    models/ngram_lm.py § portable): every decision is pure integer
    arithmetic — SQL-replayable, which is what makes the full
    pipeline-metrics query exact-oracle. The rules:

      r_lang_match  = pred == claimed AND margin ≥ lg_n·L_MARGIN_PER_FEAT
      r_perplexity  = lm_n > 0 AND lo_q[pred]·lm_n ≤ lm_num ≤ hi_q[pred]·lm_n
    """
    plang, plm = L.get_portable_langid(), LM.get_portable_lm()
    fields = [T.StructField("pred_idx", T.IntegerType()),
              T.StructField("lg_n", T.IntegerType()),   # langid feature count
              T.StructField("margin", T.LongType()),    # best − runner-up
              T.StructField("lm_n", T.IntegerType()),   # trigram count
              T.StructField("lm_num", T.LongType())]    # Σ quantized terms
    pred_ok = F.col("pred_idx") >= 0

    def per_lang(values: list) -> Column:
        arr = F.array(*[F.lit(v) for v in values])
        return F.when(pred_ok, F.element_at(arr, F.col("pred_idx") + 1))

    lo_b, hi_b = per_lang(plm["lo_q"].tolist()), per_lang(plm["hi_q"].tolist())
    lm_n = F.col("lm_n").cast("long")

    def rules(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("pred_lang", per_lang(plang["langs"]))
            .withColumn("r_lang_match", F.coalesce(
                pred_ok & (F.col("pred_lang") == F.col("lang"))
                & (F.col("margin")
                   >= F.col("lg_n").cast("long") * F.lit(L_MARGIN_PER_FEAT)),
                F.lit(False)))
            .withColumn("r_perplexity", F.coalesce(
                pred_ok & (F.col("lm_n") > 0)
                & (F.col("lm_num") >= lo_b * lm_n)
                & (F.col("lm_num") <= hi_b * lm_n),
                F.lit(False)))
            .drop("pred_idx"))

    return Scorer(fields, {"langid": plang, "lm": plm}, _portable_kernel, rules)
