"""The workloads. Each is a closed loop: one process runs one batch job at
a time on local[nproc]. A workload object has

- setup(run): make the inputs from the seed and land them (timed);
- one_pass(run, st, cold): one unit of timed work, returns its seconds;
- job_s(st, warm): the reported time of one unit from the warm passes;
- verify(run, st): check every pass's outputs (after timing);
- traced_extra(run, st): more work for the traced session only;
- layers(run, st, log): workload-only per-layer numbers (traced run).
"""

from __future__ import annotations

import hashlib
import math
import statistics
import time

import inputs
import pdfcore_pass


def _sha(text) -> str:
    return hashlib.sha256((text or "").encode("utf-8")).hexdigest()


class ExtractUniform:
    """bench-uniform docs through operators.extraction.extract_documents.
    Its traced run also runs the extract job once on the mixed corpus
    (MixedJob), for the jobs.extract_job layer."""

    name = "extract_uniform"
    layer = "operators.extraction"

    def __init__(self):
        self.job = MixedJob()

    def setup(self, run) -> dict:
        path = run.path("uniform")
        n = inputs.bench_uniform(run.seed, path, files=run.cores * 4)
        return {"path": path, "docs": n, "outputs": []}

    def one_pass(self, run, st, cold: bool) -> float:
        from pyspark.sql import functions as F

        from delphi_pdf_parser_spark.operators.extraction import extract_documents

        t0 = time.perf_counter()
        docs = run.spark.read.parquet(st["path"])
        rows = (
            extract_documents(docs)
            .select("url", "status", F.sha2("text", 256).alias("sha"))
            .collect()
        )
        dt = time.perf_counter() - t0
        st["outputs"].append({r["url"]: (r["status"], r["sha"]) for r in rows})
        return dt

    def job_s(self, st, warm: list[float]) -> float:
        return statistics.median(warm)

    def _docs(self, st):
        import pyarrow.parquet as pq

        t = pq.read_table(st["path"], columns=["url", "html"])
        return t.column("url").to_pylist(), t.column("html").to_pylist()

    def verify(self, run, st):
        urls, datas = self._docs(st)
        want = dict(zip(urls, pdfcore_pass.reference_shas(datas, run.cores)))
        for k, out in enumerate(st["outputs"]):
            run.check(len(out) == len(want), f"pass {k}: {len(out)} rows for {len(want)} docs")
            for url, sha in want.items():
                run.check(out.get(url) == ("ok", sha), f"pass {k}: {url} -> {out.get(url)}")
        if "job" in st:
            self.job.verify(run, st["job"])

    def pdf_sample(self, run, st):
        urls, datas = self._docs(st)
        return datas[:300], datas

    def traced_extra(self, run, st):
        st["job"] = self.job.setup(run)
        self.job.run_once(run, st["job"])

    def layers(self, run, st, log) -> dict:
        return self.job.layers(run, st["job"], log)


class MixedJob:
    """jobs.extract_job.main (balanced path, extracted + metrics parquet)
    on 3 copies of every fixture plus a 2,000-page whale, then the same
    command with --resume: fonts, CMaps, crypt, xref repair, whale chunks,
    the applyInPandas merge, parquet writes and resume."""

    layer = "jobs.extract_job"

    def setup(self, run) -> dict:
        path = run.path("mixed")
        return {"path": path, "expect": inputs.mixed_job(run.seed, path, files=run.cores)}

    def run_once(self, run, st):
        from jobs.extract_job import main

        out, met = run.path("job", "extracted"), run.path("job", "metrics")
        argv = ["--input", st["path"], "--output", out, "--metrics", met]
        w0 = time.time()
        t0 = time.perf_counter()
        main(argv)
        t1 = time.perf_counter()
        main(argv + ["--resume"])
        t2 = time.perf_counter()
        run.spark.catalog.clearCache()  # the job caches and never unpersists
        st.update(out=out, met=met, write_s=t1 - t0, resume_s=t2 - t1, window=(w0, w0 + t2 - t0))

    def verify(self, run, st):
        import pyarrow.parquet as pq

        whales = [u for u, w in st["expect"].items() if w[0] == "whale"]
        shas = pdfcore_pass.reference_shas(
            [st["expect"][u][1] for u in whales], min(run.cores, len(whales))
        )
        want = dict(st["expect"])
        want.update({u: ("sha256", s) for u, s in zip(whales, shas)})
        rows = pq.read_table(st["out"], columns=["url", "status", "err", "text"]).to_pylist()
        got = {r["url"]: r for r in rows}
        run.check(len(rows) == len(want) == len(got), f"job: {len(rows)} rows, {len(got)} urls, {len(want)} docs")
        for url, (kind, value) in want.items():
            r = got.get(url)
            if r is None:
                ok = False
            elif kind == "failed":
                ok = r["status"] == "failed" and r["err"] == value
            else:
                ok = r["status"] != "failed" and _sha(r["text"]) == value
            run.check(ok, f"job: {url}")

    def layers(self, run, st, log) -> dict:
        import pyarrow.parquet as pq

        from delphi_pdf_parser_spark.pdfcore.extract import count_pages_only

        whales = [e[1] for e in st["expect"].values() if e[0] == "whale"]
        written = inputs.dir_mb(st["out"]) + inputs.dir_mb(st["met"])
        rows = pq.ParquetDataset(st["out"]).read(columns=["url"]).num_rows
        t0, t1 = st["window"]
        root = run.spans.add("job:mixed", self.layer, "extract_job + resume", t0, t1)
        for jid, a, b in log.job_spans(t0 * 1e3, t1 * 1e3):
            run.spans.add("job:mixed", "spark", f"job {jid}", a, b, root)
        w = log.window(t0 * 1e3, t1 * 1e3)
        return {
            "job.extract_write_s": (st["write_s"], "s"),
            "job.resume_s": (st["resume_s"], "s"),
            "job.task_max_over_median": (w["task_max_over_median"], "ratio"),
            "job.shuffle_write_mb": (w["shuffle_write_mb"], "MB"),
            # the chunk plan of extract_whale_chunks at the job's default
            # --whale-bytes 1 MiB / --pages-per-chunk 100
            "job.whale_chunks": (
                sum(math.ceil(count_pages_only(d) / 100) for d in whales if len(d) >= 1 << 20),
                "count",
            ),
            "job.docs_reprocessed_on_resume": (rows - len(st["expect"]), "count"),
            "job.written_bytes_per_input_byte": (written / inputs.dir_mb(st["path"]), "ratio"),
        }


# the bench.BENCH_QUERIES run by the operators workload (see BENCHMARK.json)
QUERIES = (
    "minhash_lsh",
    "simhash_near_dups",
    "multimodal_features",
    "q5_local_supplier",
    "span_dedup_rewrite",
    "bm25_topk",
    "html_markdown",
)
SHUFFLE_QUERIES = (
    "simhash_near_dups",
    "minhash_lsh",
    "multimodal_features",
    "bm25_topk",
    "q5_local_supplier",
    "html_markdown",
)
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class Operators:
    """Non-extraction __spark_entry__.queries() over seed-made tables at
    the sf0.01 row counts, each collected to pandas (at most 500 rows a
    query). The cold pass's rows are checked against the DuckDB oracle,
    every later pass's against the cold pass's."""

    name = "operators_sf0.01"
    layer = "operators"

    def setup(self, run) -> dict:
        path = run.path("tables")
        inputs.operator_tables(run.seed, path)
        return {"path": path, "results": {}, "digests": [], "errors": {}, "times": []}

    def one_pass(self, run, st, cold: bool) -> float:
        import __spark_entry__ as entry

        qs = entry.queries()
        times, digests = {}, {}
        for name in QUERIES:
            t0 = time.perf_counter()
            wall0 = time.time()
            try:
                got = qs[name](run.spark, st["path"]).toPandas()
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                st["errors"][name] = f"{type(e).__name__}: {e}"[:300]
                got = None
            times[name] = (time.perf_counter() - t0, wall0)
            if got is not None:
                digests[name] = _digest(got)
                if cold:
                    st["results"][name] = got
        st["times"].append(times)
        st["digests"].append(digests)
        return sum(t for t, _ in times.values())

    def job_s(self, st, warm: list[float]) -> float:
        """Sum over queries of each query's median warm time: one slow
        query in one pass (a GC pause, a worker respawn) does not move it."""
        passes = st["times"][1 : 1 + len(warm)]
        return sum(statistics.median(p[name][0] for p in passes) for name in QUERIES)

    def traced_extra(self, run, st):
        pass

    def verify(self, run, st):
        import __spark_entry__ as entry
        import duckdb

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{st['path']}/{t}.parquet'")
        for name in QUERIES:
            got = st["results"].get(name)
            if got is None:
                run.check(False, f"{name}: {st['errors'].get(name, 'no result')}")
                continue
            cold = st["digests"][0][name]
            for k, digests in enumerate(st["digests"][1:], 1):
                run.check(digests.get(name) == cold, f"{name}: pass {k} differs from the cold pass")
            if name not in oracles:  # rows-only: no SQL oracle exists
                run.check(len(got) > 0 and name not in st["errors"], f"{name}: empty")
                continue
            want = con.execute(oracles[name]).fetch_df()
            run.check(_same_rows(got, want) and name not in st["errors"], f"{name}: differs from oracle")
        con.close()

    def pdf_sample(self, run, st):
        from delphi_pdf_parser_spark.fixtures import bench_pdf

        docs = [bench_pdf(seed=inputs._seeded(run.seed, i), npages=1 + i % 2) for i in range(1200)]
        return docs[:300], docs

    def layers(self, run, st, log) -> dict:
        out = {}
        warm = st["times"][1]  # the first untraced warm pass
        traced = st["times"][-1]
        run.info["query_pass_s"] = {
            name: [round(times[name][0], 4) for times in st["times"]] for name in QUERIES
        }
        for name in QUERIES:
            t, wall0 = traced[name]
            w = log.window(wall0 * 1e3, (wall0 + t) * 1e3)
            out[f"query.{name}.warm_s"] = (warm[name][0], "s")
            if name in SHUFFLE_QUERIES:
                out[f"query.{name}.shuffle_mb"] = (w["shuffle_write_mb"], "MB")
            if name == "simhash_near_dups":
                out["query.simhash_near_dups.candidate_rows"] = (w["join_output_rows"], "count")
            trace = f"query:{name}"
            root = run.spans.add(trace, "operators", name, wall0, wall0 + t)
            for jid, a, b in log.job_spans(wall0 * 1e3, (wall0 + t) * 1e3):
                run.spans.add(trace, "spark", f"job {jid}", a, b, root)
        return out


def _kind(dt) -> str:
    return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(getattr(dt, "kind", "O"), "other")


def _norm(df) -> list[tuple]:
    """Rows as sorted tuples of strings, columns in name order, floats
    to 6 significant digits."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append("nan" if math.isnan(v) else f"{v:.6g}")
            elif hasattr(v, "item"):
                row.append(str(v.item()))
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


def _same_rows(a, b) -> bool:
    """The oracle test's comparison: same columns, row count, dtype kinds
    and order-insensitive values."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    if any(_kind(a[c].dtype) != _kind(b[c].dtype) for c in a.columns):
        return False
    return _norm(a) == _norm(b)


def _digest(df) -> str:
    """Order-insensitive digest of a result: equal digests mean
    _same_rows would hold."""
    kinds = [(c, _kind(df[c].dtype)) for c in sorted(df.columns)]
    return hashlib.sha256(repr((kinds, _norm(df))).encode("utf-8")).hexdigest()


WORKLOADS = {w.name: w for w in (ExtractUniform(), Operators())}
