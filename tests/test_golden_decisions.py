"""Bit-identical pipeline decisions: keep count + an order-insensitive
sha256 of every decision row (floats by exact ``repr``) for the three
model-stage modes. The pins were recorded before the model stage was
rebuilt around one fused-UDF constructor; any change to a score, rule flag, keep
decision or scrubbed byte moves the hash."""

import hashlib

import pytest

from dataquality_spark import pipeline
from dataquality_spark.synth import generate_pages

GOLDEN = {
    "default": (298, "68e9d791c545ed6f125c72972672f87efa9092228b70284732bc6e510f81418f"),
    "classifier": (298, "109eecb9cfac24979054cea736fc77a7e4342a0579653e235831bfce3bee6631"),
    "portable": (299, "2939dfab82d8fc5f3a3192d82405e2fb3de43e29a3b4d25c55090c60073fa15e"),
}

MODES = {
    "default": {},
    "classifier": {"with_classifier": True},
    "portable": {"portable_models": True},
}

# the portable stage emits integer decision surfaces instead of the float
# lang_conf/logprob scores, so decisions_table cannot be projected there;
# its rows pin the same decisions plus the integer scores
PORTABLE_COLS = ["url", "keep", *(f"r_{r}" for r in pipeline.PIPELINE_RULES),
                 "pred_lang", "margin", "lg_n", "lm_n", "lm_num",
                 "stop_frac", "dupline_frac", "scrubbed_text"]


def _canon(row) -> str:
    def val(v):
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}={v[k]!r}" for k in sorted(v)) + "}"
        return repr(v)
    return "|".join(val(v) for v in row)


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 400, seed=7)


@pytest.mark.parametrize("mode", sorted(MODES))
def test_golden_decisions(spark, pages, mode):
    cleanup = []
    ann = pipeline.run_pipeline(spark, pages, cleanup=cleanup, **MODES[mode])
    frame = (ann.select(*PORTABLE_COLS) if mode == "portable"
             else pipeline.decisions_table(ann))
    rows = frame.collect()
    for f in cleanup:
        f.unpersist()
    assert len(rows) == 400
    keep = sum(bool(r["keep"]) for r in rows)
    digest = hashlib.sha256(
        "\n".join(sorted(_canon(r) for r in rows)).encode()).hexdigest()
    assert (keep, digest) == GOLDEN[mode]
