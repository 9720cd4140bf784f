"""fastText-style language identification: hashed char-ngram linear model.

Public-knowledge design (Joulin et al., "Bag of Tricks for Efficient Text
Classification", 2016): character 2-/3-gram features hashed into a fixed
bucket space, multinomial Naive-Bayes log-linear scoring. Implemented as pure
numpy so the trained artifact is broadcast to executors and scored inside an
Arrow-batched pandas UDF — no per-row Python crosses the JVM boundary
(BASELINE.json input_hint).

Training data is the deterministic seed corpus (models/corpus.py); no
external model weights or downloads. Re-expresses the reference's
"conformance to a canonical reference list" tests C2/C3
(`dimensions/consistency/c2.py:53-67`, `c3.py:42-55`) as language-ID.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from dataquality_spark import spec
from dataquality_spark.models import corpus

N_BUCKETS = 1 << 15
MAX_CHARS = 256  # score on a prefix; plenty for language ID
_P2 = np.uint64(1099511628211)
_P3 = np.uint64(16777619)
_MASK = np.uint64(N_BUCKETS - 1)


def _codepoints(text: str) -> np.ndarray:
    t = (text or "")[:MAX_CHARS].lower()
    if not t:
        return np.zeros(0, dtype=np.uint64)
    return np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)


def _ngram_buckets(a: np.ndarray) -> np.ndarray:
    """Hashed char 2- and 3-gram bucket ids (vectorized rolling hash).

    Callers must run under ``np.errstate(over='ignore')`` — hoisted out of
    this per-row hot path (uint64 wraparound is intended).
    """
    if len(a) < 2:
        return np.zeros(0, dtype=np.uint64)
    h2 = (a[:-1] * _P2) ^ a[1:]
    if len(a) < 3:
        return h2 & _MASK
    h3 = (h2[:-1] * _P3) ^ a[2:]
    return np.concatenate([h2 & _MASK, h3 & _MASK])


def train_langid(seed_docs: dict[str, list[str]] | None = None) -> dict:
    """Multinomial NB over hashed char-ngram counts; returns the artifact
    (plain dict of numpy arrays — picklable, broadcastable)."""
    langs = spec.LANGS
    docs = seed_docs or {lg: corpus.seed_corpus(lg) for lg in langs}
    counts = np.ones((len(langs), N_BUCKETS), dtype=np.float64)  # add-1
    with np.errstate(over="ignore"):
        for li, lg in enumerate(langs):
            for d in docs[lg]:
                b = _ngram_buckets(_codepoints(d))
                if len(b):
                    np.add.at(counts[li], b.astype(np.int64), 1.0)
    logp = np.log(counts) - np.log(counts.sum(axis=1, keepdims=True))
    return {"langs": list(langs), "W": logp.astype(np.float32)}


def _batch_prep(texts: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Whole-batch text prep: each row's lowered ``MAX_CHARS`` prefix is
    encoded into ONE shared codepoint array. Returns (codepoints, row
    offsets [n+1], row lengths). Null/NaN rows get length 0. The per-row
    string work (slice + lower) stays a Python loop — it is cheap; the
    expensive hashing/scoring downstream runs once over the shared array
    instead of once per row (guide §4.2: hand whole batches to vectorized
    numpy)."""
    vals = texts.to_numpy(dtype=object)
    n = len(vals)
    prefs: list[str] = []
    lens = np.zeros(n, dtype=np.int64)
    for r in range(n):
        t = vals[r]
        if t is None or (isinstance(t, float) and np.isnan(t)):
            prefs.append("")
            continue
        # slice THEN lower, exactly like _codepoints (lower can lengthen:
        # 'İ' → 'i'+U+0307, so a row's length may exceed MAX_CHARS)
        p = str(t)[:MAX_CHARS].lower()
        prefs.append(p)
        lens[r] = len(p)
    big = "".join(prefs)
    cp = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    return cp, offs, lens


def predict_batch(texts: pd.Series, artifact: dict) -> tuple[np.ndarray, np.ndarray]:
    """(predicted lang index, confidence) per text. Fully batch-vectorized:
    one shared codepoint buffer + one rolling-hash pass for the whole batch,
    then rows GROUPED BY PREFIX LENGTH score as stacked matrices (almost
    every web page saturates the 256-char prefix, so one group holds nearly
    the whole batch). Bit-identical to the per-row formulation: the stacked
    (13, g, nb).sum(axis=2) reduces the same-length axis with the same
    pairwise order as the per-row (13, nb).sum(axis=1), and the gather is
    chunked so temporaries stay cache-sized (measured: one giant gather was
    slower than the row loop). Texts with no features predict -1 / conf 0."""
    W = artifact["W"]
    n = len(texts)
    pred = np.full(n, -1, dtype=np.int64)
    conf = np.zeros(n, dtype=np.float64)
    if n == 0:
        return pred, conf
    cp, offs, lens = _batch_prep(texts)
    with np.errstate(over="ignore"):
        # one rolling-hash pass over the shared buffer; positions whose
        # gram would cross a row boundary are simply never indexed below
        if len(cp) >= 2:
            h2u = (cp[:-1] * _P2) ^ cp[1:]
            h2_all = h2u & _MASK
        else:
            h2u = h2_all = np.zeros(0, dtype=np.uint64)
        if len(cp) >= 3:
            h3_all = ((h2u[:-1] * _P3) ^ cp[2:]) & _MASK
        else:
            h3_all = np.zeros(0, dtype=np.uint64)
        for ln in np.unique(lens):
            if ln < 2:
                continue  # no features → stays (-1, 0)
            rows = np.nonzero(lens == ln)[0]
            starts = offs[rows]
            b2 = h2_all[starts[:, None] + np.arange(ln - 1)[None, :]]
            if ln >= 3:
                b3 = h3_all[starts[:, None] + np.arange(ln - 2)[None, :]]
                # same feature order as np.concatenate([h2, h3]) per row
                b = np.concatenate([b2, b3], axis=1)
            else:
                b = b2
            g, nb = b.shape
            bi = b.astype(np.int64)
            scores = np.empty((W.shape[0], g), dtype=W.dtype)
            for i in range(0, g, 512):
                bl = bi[i:i + 512]
                gb = W.take(bl.ravel(), axis=1).reshape(
                    W.shape[0], bl.shape[0], nb)
                scores[:, i:i + 512] = gb.sum(axis=2)
            scores = scores / nb
            # softmax over mean log-likelihood × a temperature that sharpens
            # with evidence size (cap so exp stays stable)
            s = (scores - scores.max(axis=0, keepdims=True)) * min(nb, 64)
            e = np.exp(np.maximum(s, -60.0))
            p = e / e.sum(axis=0, keepdims=True)
            k = np.argmax(p, axis=0)
            pred[rows] = k
            conf[rows] = p[k, np.arange(g)].astype(np.float64)
    return pred, conf


# --- ENGINE-PORTABLE fixed-point spec (exact-oracle path) -------------------
#
# Same architecture (hashed char 2-/3-gram multinomial NB), but every step is
# expressible identically in numpy AND DuckDB SQL — the pattern that made the
# quality classifier exact-oracle (models/quality.py, round 3 item #3):
#
#   * features hash RAW Unicode codepoints (NO case fold — the İ lesson from
#     round 3: Python str.lower() and SQL lower() disagree on U+0130-class
#     mappings; skipping the fold removes the divergence surface entirely,
#     and case carries no language-ID signal in the seed corpus anyway);
#   * 2-gram hash = (cp_i·31 + cp_{i+1}) mod M31 (the `poly_hash31` fold the
#     quality oracle already mirrors in SQL), 3-gram = one more fold step;
#   * NB log-weights QUANTIZED to int64 fixed point, so the per-(doc, lang)
#     score  Σ_f dq[lang, b_f] − n_f·baseq[lang]  is pure integer arithmetic
#     — exact in any summation order, no float knife edge between engines.
#
# score algebra: with add-1 smoothing, W[l,b] = log(counts[l,b]) − log(S_l)
# where S_l = Σ_b counts[l,b]; summing over a doc's features,
#   score(doc, l) = Σ_f log(counts[l, b_f]) − n_f·log(S_l)
# so only buckets with counts > 1 carry a nonzero delta (log 1 = 0) — the
# oracle emits ~14k (lang, bucket, delta) triplets, not 13×4096 weights.
# Bounds: dq ≤ log(1.2e6)·QS ≈ 1.4e7, n_f ≤ 2·(L_MAX_CHARS−1) = 510,
# |score| < 2^35, margin sums over ≤1e6 rows stay < 2^55 — no i64 overflow.

L_BUCKETS = 1 << 11          # per gram type; feature space = 2·L_BUCKETS
L_MAX_CHARS = 256            # same prefix budget as the production spec
L_QSCALE = 1_000_000         # fixed-point scale (quality.py's QSCALE)
_M31 = (1 << 31) - 1         # operators/dedup._MERSENNE


def portable_lang_buckets(text) -> np.ndarray:
    """char 2-/3-gram bucket ids for one text under the portable spec.
    2-grams land in [0, L_BUCKETS), 3-grams in [L_BUCKETS, 2·L_BUCKETS)."""
    if not isinstance(text, str) or len(text) < 2:
        return np.zeros(0, dtype=np.int64)
    t = text[:L_MAX_CHARS]
    cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    if len(cp) < 2:
        return np.zeros(0, dtype=np.int64)
    h2 = (cp[:-1] * 31 + cp[1:]) % _M31
    grams = [h2 % L_BUCKETS]
    if len(cp) >= 3:
        h3 = (h2[:-1] * 31 + cp[2:]) % _M31
        grams.append(h3 % L_BUCKETS + L_BUCKETS)
    return np.concatenate(grams)


def train_langid_portable() -> dict:
    """Multinomial NB over the portable buckets, quantized to int64 fixed
    point. Deterministic and fast (<1s) — trained per process (lru-cached
    via pipeline-style callers), and the SQL generator derives the VALUES
    table from THIS function, so the two engines cannot drift."""
    from dataquality_spark.models import corpus

    langs = spec.LANGS
    counts = np.ones((len(langs), 2 * L_BUCKETS), dtype=np.float64)  # add-1
    for li, lg in enumerate(langs):
        for d in corpus.seed_corpus(lg):
            b = portable_lang_buckets(d)
            if len(b):
                np.add.at(counts[li], b, 1.0)
    dq = np.rint(np.log(counts) * L_QSCALE).astype(np.int64)  # log1 → 0
    baseq = np.rint(np.log(counts.sum(axis=1)) * L_QSCALE).astype(np.int64)
    return {"langs": list(langs), "dq": dq, "baseq": baseq}


_PORTABLE_ART: dict | None = None


def get_portable_langid() -> dict:
    global _PORTABLE_ART
    if _PORTABLE_ART is None:
        _PORTABLE_ART = train_langid_portable()
    return _PORTABLE_ART


def _batch_prep_portable(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Portable-spec batch prep (NO case fold, raw ``L_MAX_CHARS`` prefix):
    one shared int64 codepoint array + row offsets + row lengths. Accepts
    any sequence of values; non-str rows get length 0."""
    n = len(texts)
    prefs: list[str] = []
    lens = np.zeros(n, dtype=np.int64)
    for r, t in enumerate(texts):
        if not isinstance(t, str):
            prefs.append("")
            continue
        p = t[:L_MAX_CHARS]
        prefs.append(p)
        lens[r] = len(p)
    big = "".join(prefs)
    cp = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    return cp, offs, lens


def _portable_hash_chain(cp: np.ndarray, offs: np.ndarray, lens: np.ndarray
                         ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The shared h2/h3 chain over a prepped batch, with row-boundary grams
    masked OUT: returns (h2_flat, h3_flat, n2 per row, n3 per row) where
    h2_flat/h3_flat are the rows' gram hashes concatenated in row order
    (mod M31, NOT yet reduced to buckets). n2 = max(len−1, 0) for len ≥ 2
    else 0; n3 likewise for len ≥ 3."""
    ncp = len(cp)
    if ncp >= 2:
        h2_all = (cp[:-1] * 31 + cp[1:]) % _M31
    else:
        h2_all = np.zeros(0, dtype=np.int64)
    if ncp >= 3:
        h3_all = (h2_all[:-1] * 31 + cp[2:]) % _M31
    else:
        h3_all = np.zeros(0, dtype=np.int64)
    # valid h2 positions: all but each row's LAST codepoint position (whose
    # pair crosses into the next row); rows shorter than 2 contribute none
    n2 = np.where(lens >= 2, lens - 1, 0)
    n3 = np.where(lens >= 3, lens - 2, 0)
    v2 = np.ones(len(h2_all), dtype=bool)
    v3 = np.ones(len(h3_all), dtype=bool)
    last = offs[1:] - 1          # each row's last cp index
    m = (last >= 0) & (last < len(h2_all))
    v2[last[m]] = False
    for d in (1, 2):             # last two positions cross for 3-grams
        p = offs[1:] - d
        m = (p >= 0) & (p < len(h3_all))
        v3[p[m]] = False
    return h2_all[v2], h3_all[v3], n2, n3


def _seg_sums(gathered: np.ndarray, seg_len: np.ndarray) -> np.ndarray:
    """Exact int64 per-segment sums via prefix sums (reduceat mishandles
    empty segments). ``gathered`` is the concatenated per-row values,
    ``seg_len`` the per-row counts."""
    csum = np.zeros(len(gathered) + 1, dtype=np.int64)
    np.cumsum(gathered, out=csum[1:])
    ends = np.cumsum(seg_len)
    starts = ends - seg_len
    return csum[ends] - csum[starts]


def portable_scores_batch(texts, art: dict
                          ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(pred, margin, n_features) per text — the batched portable scorer.
    pred = argmax_l score(doc, l), ties broken by LOWEST lang index (the
    SQL mirror orders `score DESC, li ASC`); margin = best − runner-up.
    Texts with no features → (−1, 0) → NULL pred on both engines.
    Pure integer arithmetic, so the batch vectorization is EXACT by
    construction (sums are order-invariant): one shared codepoint buffer,
    one h2/h3 hash pass, per-language gather + prefix-sum segment sums."""
    dq, baseq = art["dq"], art["baseq"]
    n_langs = dq.shape[0]
    n = len(texts)
    pred = np.full(n, -1, dtype=np.int64)
    margin = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pred, margin, np.zeros(0, dtype=np.int64)
    cp, offs, lens = _batch_prep_portable(texts)
    h2, h3, n2, n3 = _portable_hash_chain(cp, offs, lens)
    b2 = h2 % L_BUCKETS
    b3 = h3 % L_BUCKETS + L_BUCKETS
    n_f = n2 + n3
    has = n_f > 0
    scores = np.empty((n_langs, n), dtype=np.int64)
    for li in range(n_langs):
        dql = dq[li]
        scores[li] = (_seg_sums(dql[b2], n2) + _seg_sums(dql[b3], n3)
                      - n_f * baseq[li])
    k = np.argmax(scores, axis=0)       # first max = lowest lang index
    pred[has] = k[has]
    if n_langs > 1:
        second = np.partition(scores, n_langs - 2, axis=0)[n_langs - 2]
        margin[has] = (scores[k, np.arange(n)] - second)[has]
    return pred, margin, n_f


def make_portable_langid_udf(spark, art: dict):
    """Arrow-batched UDF → struct(pred_idx int, margin long): the portable
    integer decision surface (broadcast quantized artifact, no per-row
    Python crossing the JVM boundary)."""
    from pyspark.sql import functions as F

    b_art = spark.sparkContext.broadcast(art)

    @F.pandas_udf("struct<pred_idx: int, margin: long>")
    def portable_langid(text: pd.Series) -> pd.DataFrame:
        pred, margin, _ = portable_scores_batch(
            list(text.to_numpy(object)), b_art.value)
        return pd.DataFrame({"pred_idx": pred.astype(np.int32),
                             "margin": margin})

    return portable_langid
