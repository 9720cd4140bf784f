"""Inputs of the benchmark: the pages corpus and the registry tables.

The corpus is a pure function of its arguments, written with pyarrow (no
Spark job), and cached under the benchmark's cache directory keyed by
size, seed and ``synth.SYNTH_VERSION`` so a stale generator never feeds a
run.

* Pages: ``synth.gen_pages_pdf`` (the generator behind ``bench.py`` and
  ``run_job.py --synthetic``) at a fixed corpus seed. A workload seed
  permutes the rows and deals them into files, so every seed runs the same
  multiset of pages in a different physical layout and the decisions hash
  stays pinned.
* Registry tables: the three ``sf0.01`` test tables of TESTDATA.md that
  the benchmark's registry leaves read, copied byte for byte into
  ``perfbench/data/sf0.01`` so a run reads nothing outside its checkout.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SEED = 42        # the corpus seed bench.py and run_job.py use
PAGE_FILES = 16        # input files per seed layout (>= cores: the scan fans out)
_GEN_BATCH = 5000
# synth.PAGES_SCHEMA as an Arrow schema
PAGES_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])


def _write_atomic(build, path: str) -> None:
    """Run ``build(tmp_dir)`` and publish it at ``path`` with one rename, so
    an interrupted run never leaves a half-written cache entry behind."""
    if os.path.exists(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)


def pages_base(cache: str, n_rows: int) -> str:
    """The fixed pages corpus as one parquet file (cached)."""
    from dataquality_spark.synth import SYNTH_VERSION, gen_pages_pdf

    path = os.path.join(cache, f"pages_{n_rows}_s{PAGES_SEED}_v{SYNTH_VERSION}")

    def build(tmp):
        with pq.ParquetWriter(os.path.join(tmp, "pages.parquet"),
                              PAGES_SCHEMA) as w:
            for lo in range(0, n_rows, _GEN_BATCH):
                idx = np.arange(lo, min(lo + _GEN_BATCH, n_rows), dtype=np.int64)
                w.write_table(pa.Table.from_pandas(
                    gen_pages_pdf(idx, PAGES_SEED, n_rows),
                    schema=PAGES_SCHEMA, preserve_index=False))
    _write_atomic(build, path)
    return os.path.join(path, "pages.parquet")


def pages_layout(base_file: str, out_dir: str, seed: int,
                 files: int = PAGE_FILES) -> str:
    """Write the corpus permuted by ``seed`` into ``files`` parquet files."""
    table = pq.read_table(base_file)
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    table = table.take(pa.array(perm))
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out_dir, f"part-{k:03d}.parquet"))
    return out_dir


# --- registry tables -----------------------------------------------------------

# byte copies of documents, embeddings and events from the sf0.01 test
# tables (TESTDATA.md), the tables the registry leaves of the mix read
REGISTRY_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf0.01")
