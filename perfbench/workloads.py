"""The benchmark's workloads.  Each one generates its inputs from the seed
(cached per (seed, size) under the work directory), runs one operation
per call of ``op`` (closed loop: the caller starts the next only after
this one returns), and checks the outputs outside the timed region."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import sys
import time
import traceback

import fixtures
from spans import union_length, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
_LEDGER_MOD = 2**63 - 1


def _cached(cache_dir: str, make) -> dict:
    """Run ``make(cache_dir)`` once per directory; its meta (including the
    generation time) is kept next to the files."""
    meta_path = os.path.join(cache_dir, "meta.json")
    if not os.path.exists(meta_path):
        tmp = cache_dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.monotonic()
        meta = make(tmp)
        meta["generate_s"] = time.monotonic() - t0
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(cache_dir, ignore_errors=True)
        os.replace(tmp, cache_dir)
    with open(meta_path) as f:
        return json.load(f)


def _fail(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc()


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result frame, floats rounded to 6
    places (the same hash tools/driver_sim.py compares)."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        pdf[c] = pdf[c].astype(str)
    lines = sorted("|".join(r) for r in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class DriverSuite:
    """The 13 ``bench.HEADLINE`` queries, each built and then written to
    the noop sink; one operation is one query, one run is one pass."""

    name = "driver_suite"
    min_warm = 2

    def __init__(self, work: str, seed: int, size: float | None):
        self.sf, self.seed = size or 0.01, seed
        self.dir = os.path.join(work, "cache", f"driver-s{seed}-sf{self.sf}")
        self.meta = _cached(self.dir, lambda d: {
            "rows": fixtures.write_tables(d, seed, self.sf)})
        self.input_rows = sum(self.meta["rows"].values())
        self.runs: dict[str, int] = {}
        self.times: dict[str, list[float]] = {}
        self.raised: dict[str, int] = {}
        self.wrong: set[str] = set()
        self.last: dict = {}  # the plans of the latest pass, for check()

    def bind(self, spark) -> None:
        from bench import HEADLINE
        from feature_engineering_spark.plans.driver_queries import (
            ORACLE_SQL, QUERIES)

        self.spark, self.queries, self.oracle = spark, QUERIES, ORACLE_SQL
        self.headline = list(HEADLINE)

    def before(self) -> None:
        pass

    def op(self, tr) -> None:
        with tr.span("driver_suite.pass"):
            for q in self.headline:
                self.runs[q] = self.runs.get(q, 0) + 1
                t0 = time.monotonic()
                try:
                    with tr.span("plans.build", query=q):
                        df = self.last[q] = self.queries[q](self.spark,
                                                            self.dir)
                    with tr.span("plans.exec", query=q):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 — counted; the pass goes on
                    _fail(q)
                    self.raised[q] = self.raised.get(q, 0) + 1
                self.times.setdefault(q, []).append(time.monotonic() - t0)

    def after(self) -> None:
        pass

    def warm_run_s(self, warm: list[float]) -> float:
        """Each query's fastest warm execution, summed over the pass: a
        stall in one pass then costs only the queries it hit."""
        n = len(warm)
        return sum(min(t[1:1 + n]) for t in self.times.values())

    def instrument(self, tr):
        return contextlib.nullcontext()

    @property
    def attempted(self) -> int:
        return sum(self.runs.values())

    @property
    def failed(self) -> int:
        """Executions that raised, plus every execution of a query whose
        output did not match its oracle."""
        return sum(n if q in self.wrong else self.raised.get(q, 0)
                   for q, n in self.runs.items())

    def check(self) -> None:
        """The rows of the latest timed plan of a third of the queries
        (which third rotates with the seed) against DuckDB running their
        ORACLE_SQL on the same files.  Collecting all 13 would cost one
        more pass per run."""
        import duckdb

        con = duckdb.connect()
        for t in fixtures.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.dir, t + '.parquet')}'")
        for q in self.headline[self.seed % 3::3]:
            try:
                got = self.last[q].toPandas()
                exp = con.execute(self.oracle[q]).fetch_df()
                ok = (len(got) == len(exp) > 0
                      and sorted(got.columns) == sorted(exp.columns)
                      and value_hash(got) == value_hash(exp))
            except Exception:  # noqa: BLE001
                _fail(f"check of {q}")
                ok = False
            if not ok:
                print(f"perfbench: {q} does not match its oracle",
                      file=sys.stderr)
                self.wrong.add(q)
        con.close()

    def layers(self, spans: list[dict], ec) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in spans:
            if s["name"] == "plans.exec":
                q = s["query"]
                out[f"plans.{q}.exec_s"] = s["end"] - s["start"]
                for k, v in span_counters(s, spans, ec).items():
                    out[f"plans.{q}.{k}"] = v
                if q == "window_features_35":
                    out.update(kernel_metrics(s, spans, ec))
        return out


class PagesFeatures:
    """``jobs/extract_features.run`` on seeded synthetic pages plus labels,
    each repetition in a fresh pipeline root; one operation is one job."""

    name = "pages_features"
    min_warm = 1

    def __init__(self, work: str, seed: int, size: float | None):
        from feature_engineering_spark.sources.pages import (
            write_labels_parquet, write_pages_parquet)

        self.rows = int(size or 20_000)
        cache = os.path.join(work, "cache", f"pages-s{seed}-n{self.rows}")

        def make(d):
            write_pages_parquet(os.path.join(d, "pages.parquet"), self.rows, seed)
            write_labels_parquet(os.path.join(d, "labels.parquet"), self.rows, seed)
            return {"rows": {"pages": self.rows}}

        self.meta = _cached(cache, make)
        self.pages = os.path.join(cache, "pages.parquet")
        self.labels = os.path.join(cache, "labels.parquet")
        self.input_rows = self.rows
        self.scratch = os.path.join(work, f"run-{os.getpid()}")
        self.results: list[dict | None] = []
        self.wrong = 0
        with open(os.path.join(HERE, "pins.json")) as f:
            self.pin = json.load(f).get(self.name, {}).get(
                f"{seed}:{self.rows}")

    def bind(self, spark) -> None:
        sys.path.insert(0, os.path.join(os.path.dirname(HERE), "jobs"))
        import extract_features

        self.spark, self.job = spark, extract_features

    def before(self) -> None:
        self._root = os.path.join(self.scratch, f"pf-{len(self.results)}")
        shutil.rmtree(self._root, ignore_errors=True)
        os.makedirs(os.path.join(self._root, "_input"))
        shutil.copy(self.labels,
                    os.path.join(self._root, "_input", "labels.parquet"))
        self._stats = None

    def op(self, tr) -> None:
        try:
            with tr.span("jobs.extract_features"):
                self._stats = self.job.run(self.spark, self.pages, self._root,
                                           self.rows, 3600.0, 360.0, 5)
        except Exception:  # noqa: BLE001 — counted as a failed operation
            _fail("extract_features.run")

    def warm_run_s(self, warm: list[float]) -> float:
        return min(warm)

    def after(self) -> None:
        res = None
        if self._stats is not None:
            import pyarrow.parquet as pq

            ledger = pq.read_table(os.path.join(self._root, "_ledger"),
                                   columns=["stage", "checksum"]).to_pylist()
            by_stage: dict[str, int] = {}
            for r in ledger:
                by_stage[r["stage"]] = (by_stage.get(r["stage"], 0)
                                        + r["checksum"]) % _LEDGER_MOD
            res = {
                "stats": {k: v for k, v in self._stats.items()
                          if k not in ("wall_s", "docs_per_sec")},
                "ledger_total": sum(by_stage.values()) % _LEDGER_MOD,
                "ledger_by_stage": by_stage,
                "bytes_written": _tree_bytes(self._root, skip="_input"),
            }
        self.results.append(res)
        shutil.rmtree(self._root, ignore_errors=True)

    @contextlib.contextmanager
    def instrument(self, tr):
        """Spans around every checkpoint stage, its plan function, its
        table write and its ledger append."""
        from feature_engineering_spark.plans import checkpoint as ck

        stage, write, append = (ck.Pipeline.stage, ck.ParquetTableIO.write,
                                ck.ParquetTableIO.append)

        def traced_stage(p, name, fn, *args, **kwargs):
            def build():
                with tr.span("plans.build"):
                    return fn()
            with tr.span("checkpoint." + re.sub(r"_\d+$", "", name)):
                return stage(p, name, build, *args, **kwargs)

        def traced_write(io, *args):
            with tr.span("checkpoint.write"):
                return write(io, *args)

        def traced_append(io, *args):
            with tr.span("checkpoint.ledger"):
                return append(io, *args)

        ck.Pipeline.stage = traced_stage
        ck.ParquetTableIO.write = traced_write
        ck.ParquetTableIO.append = traced_append
        try:
            yield
        finally:
            ck.Pipeline.stage = stage
            ck.ParquetTableIO.write = write
            ck.ParquetTableIO.append = append

    @property
    def attempted(self) -> int:
        return len(self.results)

    @property
    def failed(self) -> int:
        return self.wrong

    def check(self) -> None:
        """A repetition fails if it raised, or if its stats dict or ledger
        checksums differ from the first repetition's or from the value
        pinned for this (seed, size)."""
        def key(r):
            return r and {k: r[k] for k in ("stats", "ledger_total",
                                             "ledger_by_stage")}

        ref = self.pin or next((key(r) for r in self.results if r), None)
        self.wrong = sum(1 for r in self.results if r is None or key(r) != ref)
        if self.wrong:
            print(f"perfbench: {self.wrong} pages_features repetitions differ "
                  f"from {'the pinned value' if self.pin else 'the first'}",
                  file=sys.stderr)

    def layers(self, spans: list[dict], ec) -> dict[str, float]:
        out: dict[str, float] = {"checkpoint.write_s": 0.0,
                                 "checkpoint.ledger_s": 0.0,
                                 "checkpoint.spark_jobs": 0}
        for s in spans:
            dur = s["end"] - s["start"]
            if s["name"] in ("checkpoint.write", "checkpoint.ledger"):
                out[s["name"] + "_s"] += dur
            elif s["name"].startswith("checkpoint."):
                fam = s["name"]
                out[f"{fam}.s"] = out.get(f"{fam}.s", 0.0) + dur
                for k, v in span_counters(s, spans, ec).items():
                    out[f"{fam}.{k}"] = out.get(f"{fam}.{k}", 0) + v
                out["checkpoint.spark_jobs"] += len(inclusive_jobs(s, spans, ec))
                if fam == "checkpoint.features":
                    out.update(kernel_metrics(s, spans, ec))
        out["checkpoint.bytes_written"] = self.results[-1]["bytes_written"] \
            if self.results and self.results[-1] else 0
        return out


def _tree_bytes(root: str, skip: str) -> int:
    total = 0
    for d, dirs, files in os.walk(root):
        if d == root and skip in dirs:
            dirs.remove(skip)
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _subtree(span: dict, spans: list[dict]) -> list[dict]:
    ids, out = {span["id"]}, [span]
    for s in spans:  # spans are recorded in start order: parents first
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def inclusive_jobs(span: dict, spans: list[dict], ec) -> list[int]:
    return sorted(j for s in _subtree(span, spans) for j in ec.jobs(s["id"]))


def span_counters(span: dict, spans: list[dict], ec) -> dict[str, float]:
    stages = ec.stages(inclusive_jobs(span, spans, ec))
    return {k: sum(st[k] for st in stages)
            for k in ("executor_run_s", "shuffle_write_bytes", "spill_bytes",
                      "gc_s")}


def kernel_metrics(span: dict, spans: list[dict], ec) -> dict[str, float]:
    """The Python window kernel's Arrow boundary and task skew, read from
    the SQL executions and stages that ``span`` ran."""
    py = ec.python_boundary(span)
    stages = [st for st in ec.stages(inclusive_jobs(span, spans, ec))
              if st["interval"] is not None]
    top = max(stages, key=lambda st: st["executor_run_s"], default=None)
    return {
        "window_kernel.arrow_bytes_to_python": py["data sent to Python workers"],
        "window_kernel.arrow_bytes_from_python":
            py["data returned from Python workers"],
        "window_kernel.python_run_s": py["time to run Python workers"],
        "skew.task_s_max_over_median": ec.task_skew(top) if top else 0.0,
    }


def op_metrics(root: dict, spans: list[dict], ec) -> dict[str, float]:
    """Layer metrics every workload has, from the span of one operation."""
    build = [s for s in spans if s["name"] == "plans.build"]
    stages = ec.stages(inclusive_jobs(root, spans, ec))
    busy = union_length([st["interval"] for st in stages if st["interval"]])
    return {
        "plans.build_s": sum(s["end"] - s["start"] for s in build),
        "plans.build_spark_jobs": sum(len(ec.jobs(s["id"])) for s in build),
        "plans.driver_gap_s": root["end"] - root["start"] - busy,
        "jobs.self_s": self_time(root, spans),
    }


WORKLOADS = {w.name: w for w in (DriverSuite, PagesFeatures)}
