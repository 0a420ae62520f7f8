"""query_mix: one closed-loop client running registered queries through the
noop sink, over a seeded copy of the committed sf0.01 fixture.

The list holds targets of the open performance work: the line with the
longest job chain, the all-pairs similarity line, and a stored-index
maintenance line that builds a store, appends to it and probes it. It is
kept to what fits the run budget with a fresh JVM and a cold correctness
pass in every run (see README.md).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import tempfile
import threading
import time
import zlib
from pathlib import Path

import numpy as np

from clickbench import checks
from clickbench.common import (
    COUNTER_KEYS,
    FIXTURE_DIR,
    REPEAT_KEYS,
    SparkCounters,
    median,
    supported_tail,
)

READ_QUERIES = ("corpus_curation_run", "user_activity_similarity")
STORE_QUERIES = ("bm25_stored_append",)
QUERIES = READ_QUERIES + STORE_QUERIES

# Public store builders, appenders, erasers and rewriters, timed in the
# traced run only.
STORE_WRITERS = {
    "e_commerce_click_stream_spark.operators.bm25_index": (
        "build_postings_index", "append_to_postings_index", "erase_from_postings_index",
        "apply_erasures",
    ),
    "e_commerce_click_stream_spark.operators.dedup_index": (
        "build_band_index", "append_to_band_index", "build_band_index_tables",
        "append_to_band_index_tables", "erase_from_band_index_tables", "apply_band_erasures",
    ),
    "e_commerce_click_stream_spark.operators.compaction": ("compact_bucketed_table",),
    "e_commerce_click_stream_spark.operators.tombstones": (
        "reset_tombstones", "append_tombstones", "truncate_tombstones",
    ),
}


def seeded_copy(seed: int, dest: Path) -> Path:
    """The fixture with each table's rows permuted by the seed: one parquet
    file per table, same name, same physical schema. The fixture holds the
    tables the queries read: documents and events."""
    import pyarrow.parquet as pq

    dest.mkdir(parents=True, exist_ok=True)
    for src in sorted(FIXTURE_DIR.glob("*.parquet")):
        table = pq.read_table(src)
        rng = np.random.default_rng([seed, zlib.crc32(src.stem.encode())])
        table = table.take(rng.permutation(table.num_rows))
        out = dest / src.name
        pq.write_table(table, out, version=pq.ParquetFile(src).metadata.format_version)
        if pq.ParquetFile(out).schema != pq.ParquetFile(src).schema:
            raise RuntimeError(f"seeded copy of {src.name} changed its physical schema")
    return dest


class StoreTimer:
    """Wall time inside the outermost store-writer call of any thread."""

    def __init__(self):
        self.seconds = 0.0
        self._lock = threading.Lock()
        self._depth = threading.local()

    def wrap(self, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            depth = getattr(self._depth, "n", 0)
            self._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth.n = depth
                if depth == 0:
                    with self._lock:
                        self.seconds += time.perf_counter() - t0

        return timed

    def install(self) -> None:
        """Rebind every package reference to a store writer to its timed twin."""
        originals = {}
        for mod_name, names in STORE_WRITERS.items():
            mod = importlib.import_module(mod_name)
            for name in names:
                originals[id(getattr(mod, name))] = self.wrap(getattr(mod, name))
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("e_commerce_click_stream_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in originals and callable(value):
                    setattr(mod, attr, originals[id(value)])


def _tree_size(root: Path) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def store_footprint(warehouse: Path) -> tuple[int, int]:
    """Files and bytes of every index store the run left behind."""
    files = size = 0
    for root in [*Path(tempfile.gettempdir()).glob("*_index_*"), warehouse]:
        if root.is_dir():
            f, s = _tree_size(root)
            files, size = files + f, size + s
    return files, size


def _duck_views(sf_dir: Path):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for path in sorted(sf_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
    return con


def run(ctx) -> dict:
    import bench
    from e_commerce_click_stream_spark.plans.registry import all_specs

    spark, tracer = ctx.spark, ctx.tracer
    rng = np.random.RandomState(ctx.seed)
    t0 = time.perf_counter()
    sf_dir = seeded_copy(ctx.seed, ctx.run_dir.path / "sf")
    gen_s = time.perf_counter() - t0
    specs = all_specs()
    con = _duck_views(sf_dir)
    errors: list[str] = []
    attempted = failed = 0

    # Warm-up and correctness: collect each result and compare with its oracle.
    warmup: dict[str, dict] = {}
    for name in rng.permutation(QUERIES):
        attempted += 1
        bench._release_blocks(spark)
        try:
            w0 = time.perf_counter()
            df = specs[name].builder(spark, str(sf_dir))
            rows = [tuple(r) for r in df.collect()]
            w1 = time.perf_counter()
            rel = con.sql(specs[name].oracle)
            o_cols, o_rows = rel.columns, rel.fetchall()
            warmup[name] = {"spark_s": w1 - w0, "oracle_s": time.perf_counter() - w1}
        except Exception as exc:  # a query that raises is a failed operation
            failed += 1
            errors.append(f"{name}: raised {type(exc).__name__}: {str(exc)[:300]}")
            continue
        errors += checks.oracle_errors(name, df.columns, rows, o_cols, o_rows)
        errors += checks.oracle_selftest(name, df.columns, rows, o_cols, o_rows)
    bench._release_blocks(spark)

    store_timer = StoreTimer()
    counters = None
    if ctx.trace:
        store_timer.install()
        counters = SparkCounters(spark)
    ctx.mark_setup_done()

    samples: dict[str, list[dict]] = {q: [] for q in QUERIES}
    pass_times: list[float] = []
    t_measure = time.perf_counter()
    min_passes = 2 if ctx.trace else 1
    with tracer.span("run", trace="query_mix", workload="query_mix") as run_span:
        # another pass only if it should end within --seconds
        while (len(pass_times) < min_passes
               or time.perf_counter() - t_measure + pass_times[-1] <= ctx.seconds):
            p_start = time.perf_counter()
            with tracer.span("pass", parent=run_span["id"], trace="query_mix",
                             index=len(pass_times)) as pass_span:
                for name in rng.permutation(QUERIES):
                    attempted += 1
                    bench._release_blocks(spark)
                    sample = {"pass": len(pass_times)}
                    with tracer.span("query", parent=pass_span["id"], trace="query_mix",
                                     query=name) as q_span:
                        try:
                            with counters.call(name) if counters else contextlib.nullcontext({}) as rec:
                                b0 = time.time()
                                df = specs[name].builder(spark, str(sf_dir))
                                b1 = time.time()
                                bench._execute(df)
                                b2 = time.time()
                        except Exception as exc:
                            failed += 1
                            errors.append(f"{name}: raised {type(exc).__name__}: {str(exc)[:300]}")
                            continue
                        tracer.add("build", b0, b1, parent=q_span["id"], trace="query_mix")
                        tracer.add("exec", b1, b2, parent=q_span["id"], trace="query_mix")
                        sample.update(build_s=b1 - b0, exec_s=b2 - b1, total_s=b2 - b0, **rec)
                        q_span.update({k: rec[k] for k in ("jobs", "stages", "tasks")} if rec else {})
                    samples[name].append(sample)
            pass_times.append(time.perf_counter() - p_start)
    bench._release_blocks(spark)

    n_pass = len(pass_times)
    all_ops = [s["total_s"] for q in QUERIES for s in samples[q]]
    store_ops = [s["total_s"] for q in STORE_QUERIES for s in samples[q]]
    maint_pass = [sum(s["total_s"] for q in STORE_QUERIES for s in samples[q] if s["pass"] == p)
                  for p in range(n_pass)]
    tail_pct, tail = supported_tail(all_ops)
    e2e = {"setup_s": ctx.setup_s, "op_p50_s": median(all_ops), "pass_s": median(pass_times)}
    report = {
        "query_pass_s": median(pass_times),
        "query_p50_s": median(all_ops),
        f"query_p{tail_pct or 90}_s": tail,
        "query_samples": len(all_ops),
        "maint_pass_s": median(maint_pass),
        "maint_op_p50_s": median(store_ops),
        "maint_samples": len(store_ops),
        "passes": n_pass,
        "warmup": warmup,
    }

    layers: dict[str, float] = {"datagen.gen_s": gen_s}
    if ctx.trace:
        if n_pass >= 2:
            errors += counter_repeat_errors(samples)
        layers["plans.build_s"] = sum(s["build_s"] for q in QUERIES for s in samples[q]) / n_pass
        layers["plans.exec_s"] = sum(s["exec_s"] for q in QUERIES for s in samples[q]) / n_pass
        for key in COUNTER_KEYS:
            layers[f"spark.{key}"] = sum(s[key] for q in QUERIES for s in samples[q]) / n_pass
        for q in QUERIES:
            ss = samples[q]
            if ss:
                layers[f"plans.{q}.build_s"] = median([s["build_s"] for s in ss])
                layers[f"plans.{q}.exec_s"] = median([s["exec_s"] for s in ss])
                layers[f"plans.{q}.jobs"] = median([s["jobs"] for s in ss])
                layers[f"plans.{q}.shuffle_write_bytes"] = median([s["shuffle_write_bytes"] for s in ss])
        files, size = store_footprint(ctx.run_dir.warehouse)
        layers["operators.store_write_s"] = store_timer.seconds / n_pass
        layers["operators.store_files"] = files
        layers["operators.store_bytes"] = size
    return {"e2e": e2e, "layers": layers, "report": report, "attempted": attempted,
            "failed": failed, "errors": errors}


def counter_repeat_errors(samples: dict[str, list[dict]]) -> list[str]:
    """Counters of the first two timed executions of each query must repeat
    exactly, pool-thread jobs included. Shuffle volume is compared in
    records: compressed bytes depend on the order rows reach a map task,
    which concurrent jobs do not fix."""
    errors = []
    for q, ss in samples.items():
        if len(ss) < 2:
            continue
        for key in REPEAT_KEYS:
            if ss[0][key] != ss[1][key]:
                errors.append(f"instrument self-test: {q} {key} {ss[0][key]} then {ss[1][key]}")
    return errors
