"""Single-thread microbench of the fused UDF's Python kernels.

Runs outside Spark on a fixed 20k-page sample from ``synth.gen_pages_pdf``
(the same generator the crawl corpus uses), in Arrow-sized batches, with
one BLAS/OpenMP thread (``run.py`` sets ``OMP_NUM_THREADS=1`` before numpy
loads). Each kernel's output over the whole sample is hashed and compared
with the pin in ``pins.json``, so a kernel that gets faster by computing
something else fails the run instead of reporting a gain. Float outputs are
rounded to 9 decimals before hashing.
"""

from __future__ import annotations

import hashlib
import statistics
import time

import numpy as np

SAMPLE_ROWS = 20_000
SAMPLE_SEED = 42
BATCH = 10_000          # spark.sql.execution.arrow.maxRecordsPerBatch in session.py
REPEATS = 3


def _digest(h, value) -> None:
    if isinstance(value, dict):
        for k in sorted(value):
            h.update(k.encode())
            _digest(h, value[k])
    elif isinstance(value, (tuple, list)):
        for v in value:
            _digest(h, v)
    elif isinstance(value, np.ndarray) and value.dtype != object:
        if value.dtype.kind == "f":
            value = np.round(value, 9)
        h.update(str((value.dtype.str, value.shape)).encode())
        h.update(np.ascontiguousarray(value).tobytes())
    else:  # object series/array of str | None
        for v in list(value):
            h.update(b"\x00N" if v is None else b"\x00" + str(v).encode())


def _kernels() -> list:
    """[(metric name, prepare(batch) -> input, kernel(batch, input))]. The
    LM kernels take the language index as input: it is computed once in
    ``prepare``, outside the timed call."""
    from dataquality_spark import pipeline
    from dataquality_spark.functions.stats_batch import stats_batch
    from dataquality_spark.models import langid as L
    from dataquality_spark.models import ngram_lm as LM
    from dataquality_spark.scrub import scrub_series_sparse

    art = pipeline.get_artifacts()
    plang, plm = L.get_portable_langid(), LM.get_portable_lm()

    def portable_langid(t):
        return L.portable_scores_batch(list(t.to_numpy(object)), plang)

    return [
        ("models.langid.us_per_row", None,
         lambda t, _: L.predict_batch(t, art["langid"])),
        ("models.ngram_lm.us_per_row",
         lambda t: L.predict_batch(t, art["langid"])[0],
         lambda t, pred: LM.logprob_batch(t, pred, art["lm"])),
        ("functions.stats_batch.us_per_row", None,
         lambda t, _: stats_batch(t)),
        ("scrub.us_per_row", None, lambda t, _: scrub_series_sparse(t)),
        ("models.langid.portable_us_per_row", None,
         lambda t, _: portable_langid(t)),
        ("models.ngram_lm.portable_us_per_row",
         lambda t: portable_langid(t)[0],
         lambda t, pred: LM.lm_score_portable_batch(t.tolist(), pred, plm)),
    ]


def sample_batches() -> list:
    from dataquality_spark.synth import gen_pages_pdf

    texts = gen_pages_pdf(np.arange(SAMPLE_ROWS, dtype=np.int64), SAMPLE_SEED,
                          SAMPLE_ROWS)["text"]
    return [texts.iloc[i:i + BATCH].reset_index(drop=True)
            for i in range(0, SAMPLE_ROWS, BATCH)]


def run(batches: list) -> tuple[dict[str, float], dict[str, str]]:
    """→ ({metric: median µs/row}, {metric: output hash})."""
    rows = sum(len(b) for b in batches)
    us, hashes = {}, {}
    for name, prepare, kernel in _kernels():
        inputs = [prepare(b) if prepare else None for b in batches]
        times = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            outs = [kernel(b, x) for b, x in zip(batches, inputs)]
            times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        _digest(h, outs)
        hashes[name] = h.hexdigest()[:16]
        us[name] = statistics.median(times) / rows * 1e6
    return us, hashes
