"""query_mix: the 17 headline queries of ``bench.HEADLINE``, each built
and then executed to the noop sink, one after another (closed loop,
one client). It loads most of its work on ``plans.tables``, the
``plans`` builders, ``operators.*`` and the table / npb codecs; it
never enters ``streaming.ingest``."""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from bench import HEADLINE
from timebox_spark.plans import llm_queries as LQ
from timebox_spark.plans import queries as Q
from timebox_spark.plans import tables

from perfbench import datagen, sparkstats

SF = 0.01  # 60k lineitems, 10k events, 500 documents, 500 embeddings
ORACLE_SQL = {k: Q.ORACLE_SQL.get(k) or LQ.ORACLE_SQL.get(k) for k in HEADLINE}


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, engine-neutral form of a result (the oracle
    test's rules: sorted columns and rows, naive ns datetimes, floats
    rounded to 9 places)."""
    out = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            s = pd.to_datetime(out[c])
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            out[c] = s.astype("datetime64[ns]")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(9)
        elif not pd.api.types.is_bool_dtype(out[c]):
            try:
                out[c] = pd.to_numeric(out[c])
            except (ValueError, TypeError):
                pass
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def digest(pdf: pd.DataFrame) -> str:
    norm = _normalize(pdf)
    return hashlib.md5(norm.to_csv(index=False).encode()).hexdigest()[:16]


def _shingles(text: str, n: int = 5) -> set[str]:
    t = " ".join(text.lower().split())
    return {t} if len(t) < n else {t[i : i + n] for i in range(len(t) - n + 1)}


def _check_q25(rows: pd.DataFrame, data_dir: str) -> str | None:
    """Every reported pair carries its exact char-5-gram Jaccard (x1e6,
    within one unit of rounding), at or above the 0.35 threshold."""
    docs = pd.read_parquet(os.path.join(data_dir, "documents.parquet"))
    text = dict(zip(docs.doc_id, docs.text))
    for a, b, jq in rows[["id_a", "id_b", "jaccard_q"]].itertuples(index=False):
        sa, sb = _shingles(text[a]), _shingles(text[b])
        exact = len(sa & sb) / len(sa | sb) * 1e6
        if a >= b or abs(exact - jq) > 1 or jq < 350_000:
            return f"pair ({a}, {b}) reports {jq}, exact {exact:.1f}"
    return None


def _check_q47(rows: pd.DataFrame, data_dir: str) -> str | None:
    """Ten queries, five ranked neighbours each, every score the exact
    cosine (x1e9) of the pair and non-increasing with rank."""
    emb = pd.read_parquet(os.path.join(data_dir, "embeddings.parquet"))
    vec = {i: np.asarray(v, dtype="float64") for i, v in zip(emb.vec_id, emb.embedding)}
    if len(rows) != 50 or sorted(set(rows.query_id)) != list(range(10)):
        return f"expected 10 queries x 5 neighbours, got {len(rows)} rows"
    for qid, grp in rows.sort_values(["query_id", "rank"]).groupby("query_id"):
        if list(grp["rank"]) != [1, 2, 3, 4, 5] or not grp.cosine_q.is_monotonic_decreasing:
            return f"query {qid}: ranks or scores out of order"
        q = vec[qid]
        for n, cq in zip(grp.neighbor_id, grp.cosine_q):
            v = vec[n]
            cos = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            if abs(cos * 1e9 - cq) > 1e3:
                return f"query {qid}: neighbour {n} scored {cq}, exact {cos * 1e9:.0f}"
    return None


class QueryMix:
    name = "query_mix"

    def __init__(self, tracer):
        self.tracer = tracer
        self.data_dir = None
        self.collected: dict[str, pd.DataFrame] = {}
        # traced run: per pass, per phase, job ids and seconds
        self.passes: list[dict] = []

    def setup(self, spark, work_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(work_dir, "tables")
        datagen.write_tables(self.data_dir, seed, SF)
        for name in sorted(os.listdir(self.data_dir)):
            with open(os.path.join(self.data_dir, name), "rb") as fh:
                while fh.read(1 << 22):
                    pass

    def warm(self, spark) -> None:
        """One untimed pass that collects every query's rows; the rows
        are the ones the output check compares."""
        for key, fn in HEADLINE.items():
            self.collected[key] = fn(spark, self.data_dir).toPandas()

    def step(self, spark, i: int) -> tuple[list[tuple[str, float]], int]:
        """One pass over the mix; returns (query, latency) pairs."""
        spark.catalog.clearCache()
        traced = self.tracer.enabled
        rec = {"queries": {}}
        lat = []
        trace = f"pass{i}"
        with self.tracer.span("pass", trace=trace):
            if traced:
                rec["load"] = self._direct_loads(spark, i, trace)
            for key, fn in HEADLINE.items():
                q = {}
                t0 = time.perf_counter()
                with self.tracer.span(f"query.{key}", trace=trace):
                    with self._phase(spark, f"p{i}.{key}.build", q, "build", trace):
                        df = fn(spark, self.data_dir)
                    if traced:
                        with self._phase(spark, None, q, "plan", trace):
                            df._jdf.queryExecution().executedPlan()
                    with self._phase(spark, f"p{i}.{key}.exec", q, "exec", trace):
                        df.write.mode("overwrite").format("noop").save()
                lat.append((key, time.perf_counter() - t0))
                rec["queries"][key] = q
        self.passes.append(rec)
        return lat, len(HEADLINE)

    def _direct_loads(self, spark, i: int, trace: str) -> dict:
        """Traced run: ``tables.load`` on every table, timed and
        job-counted on its own (queries call it from inside build)."""
        rec = {}
        with self._phase(spark, f"p{i}.load", rec, "tables.load", trace):
            for t in tables.TABLES:
                tables.load(spark, self.data_dir, t)
        return rec

    @contextmanager
    def _phase(self, spark, group: str | None, rec: dict, key: str, trace: str):
        """Time one phase into ``rec``; in the traced run, also tag its
        Spark jobs with ``group`` and record their ids."""
        sc = spark.sparkContext
        tagged = self.tracer.enabled and group is not None
        if tagged:
            sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(key if "." in key else f"plans.{key}", trace=trace):
                yield
        finally:
            rec[f"{key}_s"] = time.perf_counter() - t0
            if tagged:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec[f"{key}_jobs"] = sparkstats.group_job_ids(spark, group)

    def check(self, spark) -> dict[str, str | None]:
        """Compare each collected result with an independent answer:
        the DuckDB oracle SQL on the same files, or for the two
        approximate queries, exact recomputation of what they report."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in tables.TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        results = {}
        for key, got in self.collected.items():
            try:
                if key == "q25_minhash_dedup":
                    err = _check_q25(got, self.data_dir)
                elif key == "q47_ivf_ann":
                    err = _check_q47(got, self.data_dir)
                else:
                    want = con.execute(ORACLE_SQL[key]).fetchdf()
                    err = _compare(got, want)
            except Exception as e:  # a crashing check is a failed check
                err = f"{type(e).__name__}: {e}"
            results[key] = err
        con.close()
        # result digests, for comparing two commits on one seed
        print("perfbench: digests " + " ".join(
            f"{k}={digest(v)}" for k, v in self.collected.items()))
        return results

    def instrument(self) -> None:
        """Nothing to wrap: the traced passes tag their own phases."""

    def layer_metrics(self, log: dict, progress: list[dict]) -> dict[str, float]:
        """Per-pass layer metrics from the traced passes."""
        job_tasks = sparkstats.job_tasks(log)
        n = max(len(self.passes), 1)
        out: dict[str, float] = {}

        def per_pass(fn):
            return sum(fn(p) for p in self.passes) / n

        def jobs(q, phase):
            return len(q.get(f"{phase}_jobs", []))

        def tasks(q, phase):
            return sum(job_tasks.get(j, 0) for j in q.get(f"{phase}_jobs", []))

        qs = lambda p: p["queries"].values()  # noqa: E731
        out["tables.load_s"] = per_pass(lambda p: p["load"]["tables.load_s"])
        out["tables.load_jobs"] = per_pass(lambda p: jobs(p["load"], "tables.load"))
        for phase in ("build", "plan", "exec"):
            out[f"plans.{phase}_s"] = per_pass(lambda p: sum(q[f"{phase}_s"] for q in qs(p)))
        out["plans.build_jobs"] = per_pass(lambda p: sum(jobs(q, "build") for q in qs(p)))
        out["plans.exec_jobs"] = per_pass(lambda p: sum(jobs(q, "exec") for q in qs(p)))
        out["plans.exec_tasks"] = per_pass(lambda p: sum(tasks(q, "exec") for q in qs(p)))
        out["plans.tasks_per_job"] = out["plans.exec_tasks"] / max(out["plans.exec_jobs"], 1)
        for key in HEADLINE:
            secs = [sum(p["queries"][key][f"{ph}_s"] for ph in ("build", "plan", "exec"))
                    for p in self.passes]
            out[f"query.{key}.s"] = statistics.median(secs) if secs else 0.0
            out[f"query.{key}.jobs"] = per_pass(
                lambda p: jobs(p["queries"][key], "build") + jobs(p["queries"][key], "exec"))
        return out


def _compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The oracle test's comparison: same columns and row count, then
    values in any row order, floats to a relative 1e-9."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    try:
        pd.testing.assert_frame_equal(_normalize(got), _normalize(want), check_dtype=False,
                                      check_exact=False, rtol=1e-9)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None
