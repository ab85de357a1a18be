"""The three workloads. Each drives the library only through its public
functions, checks every output against an answer computed without the
library, and reports end-to-end numbers (untraced) or per-layer
numbers (traced).

Interface: ``setup(i)`` builds the workload's served state from
scratch (called once untimed, then several times timed; the benchmark
reports the median of the timed ones),
``warm(tracer)`` runs untimed until caches and Python workers are warm,
``run(seconds, tracer)`` is the measured loop (a fixed amount of work
for ``seconds``), ``verify()`` returns the number of wrong operations
among those run and a few problem descriptions, and
``layers(tracer, ev)`` turns the tracer and the event log into
per-layer metrics.
"""

from __future__ import annotations

import functools
import gc
import io
import json
import math
import os
import re
import statistics
import tarfile
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen


def p90(values: list[float]) -> float:
    """90th percentile, linearly interpolated between order statistics
    (``statistics.quantiles``, inclusive method); a single sample is
    its own percentile."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def release(spark) -> None:
    """Drop cached and checkpointed blocks between operations, the way
    a long-lived caller must (see bench.py)."""
    spark.catalog.clearCache()
    gc.collect()


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # exited while listing


@functools.lru_cache(maxsize=None)
def _jit_threads(pid: int) -> tuple[str, ...]:
    """Thread ids of a process's JIT compiler threads. The JVM runs with
    a fixed set of them (see run.prepare_environment), so the list is
    read once per process."""
    tids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(JIT_THREADS):
                    tids.append(tid)
    except OSError:
        pass  # exited while listing
    return tuple(tids)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, with reaped children) of a process
    and all its live descendants: this benchmark, its Spark JVM and the
    JVM's Python workers. The JVM's JIT compiler threads are left out:
    how much compiling is still pending after warm-up varies from run
    to run, and it is not work the operation asked for."""
    root = os.getpid() if root is None else root
    cpu: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        fields = _stat_fields(f"/proc/{d}/stat")
        if fields is None:
            continue
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
        children.setdefault(int(fields[1]), []).append(int(d))
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(children.get(pid, []))
        for tid in _jit_threads(pid) if pid in cpu else ():
            fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if fields is not None:
                total -= int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files under a local directory."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# ======================================================================
# cdc_upsert
# ======================================================================


class CdcUpsert:
    """Avro changelog drops -> CdcStreamingPipeline -> bucketed table."""

    BASE_KEYS = 100_000
    ROWS_PER_DROP = 1_000
    BUCKETS = 16
    SETUP_REPEATS = 3
    SECONDS_PER_DROP = 2.0  # sizing only: drops = seconds / this (a micro-batch takes ≈2.7 s)

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.stream = gen.CdcStream(seed, self.BASE_KEYS, self.ROWS_PER_DROP)
        base = self.stream.base_rows()
        self.base_pdf = pd.DataFrame(
            {
                "id": pd.Series([r[0] for r in base], dtype="int64"),
                "name": [r[1] for r in base],
                "score": pd.Series([r[2] for r in base], dtype="int64"),
                "tag": pd.Series([r[3] for r in base], dtype=object),
            }
        )
        self.schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("score", T.LongType()),
                T.StructField("tag", T.StringType()),
            ]
        )
        self.source = f"{root}/source"
        self.dlq = f"{root}/dlq"
        self.ckpt = f"{root}/checkpoint"
        os.makedirs(self.source, exist_ok=True)
        self.drop_index = 0
        self.drop_bytes = 0
        self.batches: list[dict] = []

    # -- setup ---------------------------------------------------------
    def setup(self, i: int) -> None:
        from platypus_ingestion_plugins_spark.serving.table import ServingTable

        self.table_path = f"{self.root}/table{i}"
        self.table = ServingTable(self.spark, self.table_path, key="id", num_buckets=self.BUCKETS)
        self.table.overwrite(self.spark.createDataFrame(self.base_pdf, self.schema))

    def _transform(self, raw):
        from platypus_ingestion_plugins_spark.sources.avro_decode import python_avro_decoder
        from platypus_ingestion_plugins_spark.sources.kafka import decode_with_schema_map

        schemas = {sid: json.dumps(s) for sid, s in gen.SCHEMA_IDS.items()}
        out = decode_with_schema_map(raw, schemas, decoder=python_avro_decoder)
        kind = F.lit(None).cast("string")
        for op, code in gen.ROW_KIND_CODES.items():
            kind = F.when(F.col("op") == op, F.lit(code)).otherwise(kind)
        out = out.withColumn("_row_kind", kind).drop("op", "value", "_schema_id")
        if self.tracer.enabled:
            # materialize the decode inside its own span so the Python
            # worker time is attributed to the decode layer, not to the
            # first sink action that happens to trigger it
            # (persisted, not checkpointed: the pipeline persists the same
            # frame and unpersists it when the batch ends)
            out.persist()
            with self.tracer.span("sources.avro_decode"):
                out.write.format("noop").mode("overwrite").save()
        return out

    def _land(self, n: int) -> int:
        """Write ``n`` drops as parquet files with increasing mtimes (the
        file source orders a trigger's files by modification time)."""
        valid = 0
        for _ in range(n):
            records, v = self.stream.next_drop()
            valid += v
            self.drop_bytes += sum(len(r) for r in records)
            path = f"{self.source}/drop-{self.drop_index:05d}.parquet"
            pq.write_table(pa.table({"value": pa.array(records, pa.binary())}), path)
            t = 1_000_000_000 + self.drop_index
            os.utime(path, (t, t))
            self.drop_index += 1
        return valid

    def _drain(self) -> tuple[float, list]:
        from platypus_ingestion_plugins_spark.streaming.pipeline import CdcStreamingPipeline

        pipe = CdcStreamingPipeline(
            self.spark,
            self.source,
            T.StructType([T.StructField("value", T.BinaryType())]),
            self.table,
            self.ckpt,
            max_files_per_trigger=1,
            dlq_path=self.dlq,
            transform=self._transform,
        )
        t0 = time.perf_counter()
        q = pipe.start(trigger={"availableNow": True})
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p.numInputRows]
        return wall, progress

    def warm(self, tracer) -> None:
        self.tracer = tracer
        self._land(1)
        self._drain()

    # -- measured --------------------------------------------------------
    def run(self, seconds: int, tracer, share: float = 1.0) -> dict:
        """One closed drain over ``share`` of the drops: all land first,
        then one availableNow run at one drop per micro-batch. Only the
        drain is measured (and, traced, is the event-log window)."""
        self.tracer = tracer
        n = max(1, round(seconds * share / self.SECONDS_PER_DROP))
        landed = self.drop_bytes
        rows = self._land(n)
        if tracer.enabled:
            tracer.add("changelog_bytes", self.drop_bytes - landed)
            self._trace_apply(tracer)
        c0, w0 = tree_cpu_s(), time.time()
        wall, progress = self._drain()
        cpu = tree_cpu_s() - c0
        trig = [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in progress]
        batches = [{"id": p.batchId, "rows": p.numInputRows, "durations": dict(p.durationMs)}
                   for p in progress]
        self.batches.extend(batches)
        if tracer.enabled:
            tracer.windows.append((w0, time.time()))
            self.traced_batches = batches
            # the pipeline quarantines a batch's poison records under
            # its epoch; the decoded rows are the rest of its input
            ids = [b["id"] for b in batches]
            poison = self._dlq().filter(F.col("epoch").isin(ids)).select("epoch").collect()
            tracer.add("sources.avro_decode.poison_rows", len(poison))
            tracer.add("sources.avro_decode.rows", sum(b["rows"] for b in batches) - len(poison))
        lat_ms = [t * 1000.0 for t in trig]
        return {
            "attempted": len(progress),
            "cpu_ms_per_op": cpu * 1000.0 / max(1, len(progress)),
            "latency_p50_ms": statistics.median(lat_ms),
            "throughput": rows / wall,
            "lat_ms": lat_ms,
            "report": {"ingest_rows_per_s": (rows / wall, "1/s"),
                       "commit_p50_s": (statistics.median(trig), "s"),
                       "commit_p90_s": (p90(trig), "s")},
        }

    def _dlq(self):
        return self.spark.read.option("basePath", self.dlq).parquet(self.dlq)

    def _commits(self) -> list[dict]:
        with open(f"{self.table_path}/_commits.json") as f:
            return json.load(f)

    def _trace_apply(self, tracer) -> None:
        """Span each ServingTable.apply_batch call and count the bytes of
        the bucket directories it rewrote (read from the local table
        directory after the commit)."""
        inner = self.table.apply_batch

        def apply_batch(changelog):
            tracer.add("serving.table.apply_batch.calls")
            with tracer.span("serving.table.apply_batch"):
                inner(changelog)
            for b in self._commits()[-1]["buckets"] or []:
                tracer.add("serving.table.bytes_written",
                           dir_bytes(f"{self.table_path}/__bucket={b}")[1])

        self.table.apply_batch = apply_batch

    def verify(self) -> tuple[int, list[str]]:
        """Whole-run gate: the served table equals the last-wins replay
        and the DLQ holds exactly the injected poison records. Either
        failing marks every measured micro-batch wrong."""
        problems = []
        got = self.table.query().toPandas()
        got_rows = sorted(
            (int(r.id), r.name, int(r.score), None if pd.isna(r.tag) else r.tag)
            for r in got.itertuples(index=False)
        )
        want_rows = sorted((k, *v) for k, v in self.stream.state.items())
        if got_rows != want_rows:
            diff = len(set(got_rows) ^ set(want_rows))
            problems.append(f"served table != last-wins replay ({diff} rows differ)")
        n_dlq = len(self._dlq().select("epoch").collect())
        if n_dlq != self.stream.poison:
            problems.append(f"DLQ rows {n_dlq} != injected poison {self.stream.poison}")
        return (len(self.batches) if problems else 0), problems

    # -- traced ----------------------------------------------------------
    def layers(self, tracer, ev) -> dict:
        traced_batches = self.traced_batches
        out = {}
        for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch"):
            out[f"streaming.trigger.{phase}_s"] = sum(
                b["durations"].get(phase, 0) for b in traced_batches
            ) / 1000.0
        out["streaming.batches"] = len(traced_batches)
        out["streaming.input_rows"] = sum(b["rows"] for b in traced_batches)
        out["sources.avro_decode.busy_s"] = tracer.busy("sources.avro_decode")
        out["sources.avro_decode.rows"] = tracer.counts["sources.avro_decode.rows"]
        out["sources.avro_decode.poison_rows"] = tracer.counts["sources.avro_decode.poison_rows"]
        out["serving.table.apply_batch.calls"] = tracer.counts["serving.table.apply_batch.calls"]
        out["serving.table.apply_batch.busy_s"] = tracer.busy("serving.table.apply_batch")
        commits = [c for c in self._commits() if c["kind"] == "batch"][-len(traced_batches):]
        out["serving.table.buckets_rewritten"] = sum(len(c["buckets"] or []) for c in commits)
        out["serving.table.bytes_written"] = tracer.counts["serving.table.bytes_written"]
        out["serving.table.write_amp"] = (
            tracer.counts["serving.table.bytes_written"] / max(1, tracer.counts["changelog_bytes"])
        )
        out["serving.table.files"] = dir_bytes(self.table_path)[0]
        out["serving.table.fs.ops"] = tracer.counts["serving.table.fs.ops"]
        out["serving.table.fs.busy_s"] = tracer.busy("serving.table.fs")
        return out


# ======================================================================
# search_mix
# ======================================================================

_WORD = re.compile(r"\W+", re.ASCII)


def analyze(text: str) -> list[str]:
    """The serving layer's analyzer, re-implemented: lowercase, split on
    ASCII non-word runs, drop empties."""
    return [t for t in _WORD.split(text.lower()) if t]


SEARCH_CLASSES = ("lookup", "filter_topk", "text_scan", "aggs", "bm25_indexed")


class SearchMix:
    """Closed loop, one client, over a served F1 corpus."""

    N_DOCS = 3_000
    BUCKETS = 8
    CYCLE_SECONDS = 2.7  # sizing only: cycles = seconds / this
    WARM_CYCLES = 1
    SETUP_REPEATS = 3
    INDEX_BUCKETS = 16

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        rows, vocab, probs = gen.search_corpus(seed, self.N_DOCS)
        self.cycles = gen.search_requests(seed, self.N_DOCS, vocab, probs, 100)
        self.pdf = pd.DataFrame(rows, columns=["id", "title", "content", "category", "rating", "tags"])
        self.schema = T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("title", T.StringType()),
                T.StructField("content", T.StringType()),
                T.StructField("category", T.StringType()),
                T.StructField("rating", T.DoubleType()),
                T.StructField("tags", T.ArrayType(T.StringType())),
            ]
        )
        self.next_cycle = 0
        self.results: list[tuple] = []  # (class, params, rows)

    def setup(self, i: int) -> None:
        from platypus_ingestion_plugins_spark.serving.table import ServingTable
        from platypus_ingestion_plugins_spark.serving.text_index import build_term_index

        self.table = ServingTable(self.spark, f"{self.root}/docs{i}", key="id", num_buckets=self.BUCKETS)
        self.table.overwrite(self.spark.createDataFrame(self.pdf, self.schema))
        self.index = f"{self.root}/index{i}"
        build_term_index(self.table.query(), "content", "id", self.index,
                         buckets=self.INDEX_BUCKETS, positions=True)

    # -- requests ------------------------------------------------------
    def _build(self, cls: str, p: dict):
        from platypus_ingestion_plugins_spark.serving import query as Q
        from platypus_ingestion_plugins_spark.serving.aggs import run_aggs
        from platypus_ingestion_plugins_spark.serving.text_index import bm25_indexed

        if cls == "lookup":
            return self.table.lookup(p["id"])
        if cls == "filter_topk":
            pred = Q.bool_query(must=[Q.term("category", p["category"]),
                                      Q.range_query("rating", gte=p["gte"], lte=p["lte"])])
            return Q.search(self.table.query(), pred, top=p["top"], order_by="rating", descending=True)
        if cls == "text_scan":
            return Q.search(self.table.query(), Q.match_text("content", p["query"]),
                            fields=["id", "title", "category", "rating"])
        if cls == "aggs":
            return run_aggs(self.table.query(), {
                "query": {"range": {"rating": {"gte": p["gte"]}}},
                "aggs": {"by_cat": {"terms": {"field": "category", "size": len(gen.CATEGORIES)},
                                    "aggs": {"avg_rating": {"avg": {"field": "rating"}}}}},
            })
        scored = bm25_indexed(self.spark, self.index, p["query"], id_col="id")
        return scored.orderBy(F.desc("bm25"), F.asc("id")).limit(10)

    def _request(self, tracer, i: int, cls: str, p: dict):
        """One request, its full result collected: (rows, wall seconds,
        process-tree CPU seconds)."""
        c0 = tree_cpu_s()
        t0, w0 = time.perf_counter(), time.time()
        if not tracer.enabled:
            rows = self._build(cls, p).collect()
        else:
            with tracer.span(f"serving.{cls}", req=i, group=f"perfbench.{cls}"):
                with tracer.span(f"serving.{cls}.plan", req=i):
                    df = self._build(cls, p)
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(f"serving.{cls}.exec", req=i):
                    rows = df.collect()
            tracer.windows.append((w0, time.time()))
        dt = time.perf_counter() - t0
        return rows, dt, tree_cpu_s() - c0

    def warm(self, tracer) -> None:
        for cycle in self.cycles[-self.WARM_CYCLES:]:
            for cls, p in cycle:
                self._request(tracer, -1, cls, p)

    def _cycle(self, tracer, lat: dict, cpu: dict) -> None:
        for cls, p in self.cycles[self.next_cycle % (len(self.cycles) - self.WARM_CYCLES)]:
            rows, dt, c = self._request(tracer, len(self.results), cls, p)
            lat[cls].append(dt)
            cpu[cls].append(c)
            if tracer.enabled:
                self.hits[cls] += len(rows)
            self.results.append((cls, p, rows))
        self.next_cycle += 1

    def _n_cycles(self, seconds: float) -> int:
        return max(1, round(seconds / self.CYCLE_SECONDS))

    def run(self, seconds: float, tracer) -> dict:
        """Whole cycles, so every run sends the classes in the same
        proportions; a fixed number of them for ``seconds``, so every
        run does the same work whatever the machine's speed."""
        lat, cpu = {c: [] for c in SEARCH_CLASSES}, {c: [] for c in SEARCH_CLASSES}
        for _ in range(self._n_cycles(seconds)):
            self._cycle(tracer, lat, cpu)
        return self._summary(lat, cpu)

    def run_alternating(self, seconds: float, tracer) -> tuple[dict, dict]:
        """Traced run: cycles alternate untraced and traced, so both
        halves see the same warmth and the same background load."""
        tracer.wrap(self.table, "read", "serving.table.read")
        tracer.wrap(self.table, "exists", "serving.table.read")
        self.hits = dict.fromkeys(SEARCH_CLASSES, 0)
        halves = [({c: [] for c in SEARCH_CLASSES}, {c: [] for c in SEARCH_CLASSES}) for _ in range(2)]
        tracer.enabled = True
        for _ in range(max(2, self._n_cycles(seconds))):
            tracer.enabled = not tracer.enabled  # untraced first
            self._cycle(tracer, *halves[tracer.enabled])
        tracer.enabled = True
        self.counts = {c: len(v) for c, v in halves[1][0].items()}
        return self._summary(*halves[0]), self._summary(*halves[1])

    @staticmethod
    def _summary(lat: dict, cpu: dict) -> dict:
        """Every request class weighs the same in the bounded metrics
        (geometric mean over classes), so a class ten times cheaper
        than another is not hidden in the mix."""
        search = [t for c in SEARCH_CLASSES if c != "lookup" for t in lat[c]]
        cpu_ms = {c: statistics.fmean(cpu[c]) * 1000.0 for c in SEARCH_CLASSES}
        p50_ms = {c: statistics.median(lat[c]) * 1000.0 for c in SEARCH_CLASSES}
        return {
            "attempted": sum(len(v) for v in lat.values()),
            "cpu_ms_per_op": geomean(cpu_ms.values()),
            "latency_p50_ms": geomean(p50_ms.values()),
            "throughput": len(search) / sum(search),
            "lat_ms": [t * 1000.0 for t in search],
            "report": {"search_qps": (len(search) / sum(search), "1/s"),
                       "search_p50_ms": (statistics.median(search) * 1000.0, "ms"),
                       "search_p90_ms": (p90(search) * 1000.0, "ms"),
                       "lookup_p50_ms": (p50_ms["lookup"], "ms"),
                       **{f"{c}_p50_ms": (p50_ms[c], "ms") for c in SEARCH_CLASSES if c != "lookup"},
                       **{f"{c}_cpu_ms": (cpu_ms[c], "ms") for c in SEARCH_CLASSES}},
        }

    # -- oracle ----------------------------------------------------------
    def _oracle_state(self):
        import duckdb

        snap = self.table.query().toPandas()
        con = duckdb.connect()
        con.register("docs", snap)
        ids = snap["id"].tolist()
        scan_rows = list(zip(ids, snap["title"], snap["category"], snap["rating"]))
        tf: list[dict] = []
        dl: list[int] = []
        df: dict[str, int] = {}
        for text in snap["content"]:
            toks = analyze(text)
            dl.append(len(toks))
            counts: dict[str, int] = {}
            for w in toks:
                counts[w] = counts.get(w, 0) + 1
            tf.append(counts)
            for w in counts:
                df[w] = df.get(w, 0) + 1
        return con, ids, scan_rows, tf, df, dl

    @staticmethod
    def _norm(rows) -> list[tuple]:
        out = []
        for r in rows:
            vals = []
            for v in (r.values() if isinstance(r, dict) else r):
                if hasattr(v, "tolist"):
                    v = v.tolist()
                vals.append(tuple(v) if isinstance(v, list) else v)
            out.append(tuple(vals))
        return sorted(out, key=repr)

    def _expected(self, st, cls: str, p: dict):
        con, ids, scan_rows, tf, df, dl = st
        cols = "id, title, content, category, rating, tags"
        if cls == "lookup":
            return con.execute(f"SELECT {cols} FROM docs WHERE id = ?", [p["id"]]).fetchall()
        if cls == "filter_topk":
            return con.execute(
                f"SELECT {cols} FROM docs WHERE category = ? AND rating >= ? AND rating <= ? "
                "ORDER BY rating DESC LIMIT ?", [p["category"], p["gte"], p["lte"], p["top"]]
            ).fetchall()
        if cls == "text_scan":
            q = set(analyze(p["query"]))
            return [scan_rows[i] for i, t in enumerate(tf) if q & t.keys()]
        if cls == "aggs":
            return con.execute(
                "SELECT category, count(*), avg(rating) FROM docs WHERE rating >= ? GROUP BY category",
                [p["gte"]],
            ).fetchall()
        # bm25: ln(1 + (N - df + .5)/(df + .5)) * tf(k1+1)/(tf + k1(1 - b + b dl/avgdl))
        k1, b = 1.2, 0.75
        n = len(tf)
        avgdl = sum(dl) / n
        q = sorted(set(analyze(p["query"])))
        scores = []
        for i, t in enumerate(tf):
            if not any(w in t for w in q):
                continue
            s = 0.0
            for w in q:
                if w in t:
                    idf = math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
                    s += idf * (t[w] * (k1 + 1)) / (t[w] + k1 * (1 - b + b * dl[i] / avgdl))
            scores.append((ids[i], round(s, 6)))
        return sorted(scores, key=lambda r: (-r[1], r[0]))

    def _matches(self, cls: str, got, want) -> bool:
        if cls == "aggs":
            g = sorted((r["by_cat"], r["doc_count"], r["avg_rating"]) for r in got)
            w = sorted(want)
            return len(g) == len(w) and all(
                a[0] == b[0] and a[1] == b[1] and math.isclose(a[2], b[2], rel_tol=1e-12)
                for a, b in zip(g, w)
            )
        if cls == "bm25_indexed":
            # scores are rounded sums of a few float terms: allow one unit
            # in the 6th decimal, and let ids differ only among docs tied
            # (within that unit) with the 10th score
            g = [(r["id"], r["bm25"]) for r in got]
            top = want[:10]
            if len(g) != len(top) or any(abs(a[1] - b[1]) > 1.5e-6 for a, b in zip(g, top)):
                return False
            if not top:
                return True
            edge = top[-1][1]
            tied = {i for i, s in want if abs(s - edge) <= 1.5e-6}
            return {i for i, _ in g} - tied == {i for i, _ in top} - tied
        return self._norm(got) == self._norm(want)

    def verify(self) -> tuple[int, list[str]]:
        st = self._oracle_state()
        bad, problems = 0, []
        for cls, p, rows in self.results:
            if not self._matches(cls, rows, self._expected(st, cls, p)):
                bad += 1
                if len(problems) < 5:
                    problems.append(f"{cls} {p}: result differs from the oracle")
        return bad, problems

    def layers(self, tracer, ev) -> dict:
        out = {}
        for c in SEARCH_CLASSES:
            n = max(1, self.counts[c])
            group = f"perfbench.{c}"
            jobs = ev.total(lambda j: j["group"] == group)
            out[f"serving.{c}.plan_s"] = tracer.busy(f"serving.{c}.plan") / n
            out[f"serving.{c}.exec_s"] = tracer.busy(f"serving.{c}.exec") / n
            out[f"serving.{c}.jobs"] = jobs["jobs"] / n
            out[f"serving.{c}.files_read"] = ev.sql[group]["files_read"] / n
            out[f"serving.{c}.rows_scanned_per_hit"] = jobs["scan_rows"] / max(1, self.hits[c])
        n_req = max(1, sum(self.counts.values()))
        out["serving.table.read.busy_s"] = tracer.busy("serving.table.read") / n_req
        out["serving.table.fs.ops"] = tracer.counts["serving.table.fs.ops"] / n_req
        out["serving.table.fs.busy_s"] = tracer.busy("serving.table.fs") / n_req
        out["serving.text_index.buckets_read_frac"] = ev.sql["perfbench.bm25_indexed"]["partitions_read"] / (
            max(1, self.counts["bm25_indexed"]) * self.INDEX_BUCKETS
        )
        return out


# ======================================================================
# corpus_clean
# ======================================================================


class CorpusClean:
    """Batch: the full pipelines.clean_corpus chain, input -> result."""

    N_DOCS = 1_000
    N_SHARDS = 8
    WARM_DOCS = 250
    SETUP_REPEATS = 3
    RUN_SECONDS = 4.0  # sizing only: runs = seconds / this

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        docs, bench, self.survivors = gen.clean_corpus_input(seed, self.N_DOCS)
        self.n_docs = len(docs)
        # the corpus arrives as WebDataset tar shards ({doc_id}.txt per
        # sample), written here with the standard library
        self.shards = f"{root}/shards"
        os.makedirs(self.shards)
        for k in range(self.N_SHARDS):
            with tarfile.open(f"{self.shards}/shard-{k:05d}.tar", "w") as tar:
                for doc_id, text in docs[k :: self.N_SHARDS]:
                    data = text.encode("utf-8")
                    info = tarfile.TarInfo(f"{doc_id}.txt")
                    info.size = len(data)
                    tar.addfile(info, io.BytesIO(data))
        bench_path = f"{root}/bench.parquet"
        pq.write_table(pa.table({"doc_id": pa.array([b[0] for b in bench], pa.int64()),
                                 "text": [b[1] for b in bench]}), bench_path)
        self.bench = spark.read.parquet(bench_path)
        self.runs: list[set] = []
        self.stage: dict[str, float] = {}

    def setup(self, i: int) -> None:
        """Stage the corpus: the library's tar-shard reader into a
        parquet copy, which every pipeline run reads."""
        from platypus_ingestion_plugins_spark.operators.export import read_tar_shards

        staged = f"{self.root}/docs{i}"
        (read_tar_shards(self.spark, self.shards, {"txt": "text"}, key_name="doc_id")
         .withColumn("doc_id", F.col("doc_id").cast("long"))
         .write.parquet(staged))
        self.docs = self.spark.read.parquet(staged)

    def _once(self, docs=None) -> tuple[set, float]:
        from platypus_ingestion_plugins_spark.pipelines import clean_corpus

        t0 = time.perf_counter()
        out = clean_corpus(self.docs if docs is None else docs, "text", "doc_id", benchmark=self.bench)
        got = out.toPandas()
        dt = time.perf_counter() - t0
        ids = set(int(x) for x in got["doc_id"])
        del out
        release(self.spark)
        return ids, dt

    def warm(self, tracer) -> None:
        # the first run pays the chain's first-use costs (codegen, JIT,
        # UDF workers), which hardly depend on its size
        self._once(self.docs.filter(F.col("doc_id") <= self.WARM_DOCS))

    def run(self, seconds: float, tracer, share: float = 1.0) -> dict:
        """A fixed number of full runs for ``share`` of ``seconds``."""
        times = []
        c0 = tree_cpu_s()
        for _ in range(max(1, round(seconds * share / self.RUN_SECONDS))):
            w0 = time.time()
            with tracer.span("pipelines.clean_corpus", req=len(self.runs), group="perfbench.clean_corpus"):
                ids, dt = self._once()
            if tracer.enabled:
                tracer.windows.append((w0, time.time()))
            self.runs.append(ids)
            times.append(dt)
        n = self.n_docs
        lat_ms = [t * 1000.0 for t in times]
        return {
            "attempted": len(times),
            "cpu_ms_per_op": (tree_cpu_s() - c0) * 1000.0 / len(times),
            "latency_p50_ms": statistics.median(lat_ms),
            "throughput": n * len(times) / sum(times),
            "lat_ms": lat_ms,
            "report": {"clean_docs_per_s": (n * len(times) / sum(times), "1/s")},
        }

    def verify(self) -> tuple[int, list[str]]:
        bad = [ids for ids in self.runs if ids != self.survivors]
        problems = []
        if bad:
            ids = bad[0]
            problems.append(
                f"surviving ids != planted truth: {len(ids - self.survivors)} extra, "
                f"{len(self.survivors - ids)} missing"
            )
        return len(bad), problems

    # -- traced: stage-isolated attribution ----------------------------
    def attribute(self, tracer) -> int:
        """Each stage timed with its input materialized first (so a stage
        pays only its own work), in clean_corpus's order and with its
        parameters. Returns the number of checked operations it adds
        (its survivors are verified like a pipeline run's)."""
        from platypus_ingestion_plugins_spark.functions.text import normalize_unicode, quality_score
        from platypus_ingestion_plugins_spark.operators import decontam, dedup

        st = self.stage

        def timed(name, fn, group):
            with tracer.span(name, group=f"perfbench.stage.{group}"):
                t0 = time.perf_counter()
                df = fn().localCheckpoint(eager=True)
                st[name] = time.perf_counter() - t0
            st[f"{name}.rows_out"] = len(df.select(F.lit(1)).collect())
            return df

        docs = self.docs.localCheckpoint(eager=True)
        normed = timed("pipelines.normalize_s",
                       lambda: docs.withColumn("text", normalize_unicode("text")), "normalize")

        def exact():
            keep = normed.groupBy(F.sha2("text", 256).alias("h")).agg(F.min("doc_id").alias("doc_id"))
            return normed.join(keep.select("doc_id"), "doc_id", "left_semi")

        deduped = timed("operators.dedup.exact_s", exact, "exact")
        pairs = timed("operators.dedup.lsh_pairs_s",
                      lambda: dedup.minhash_lsh_dedup_pairs(deduped, "text", "doc_id", n=3, threshold=0.8),
                      "lsh")
        groups = timed("operators.dedup.components_s",
                       lambda: dedup.connected_components_star(pairs, nodes=deduped.select("doc_id"),
                                                               id_col="doc_id"),
                       "components")
        near = deduped.join(groups.filter(F.col("doc_id") == F.col("group_id")).select("doc_id"),
                            "doc_id", "left_semi")
        good = timed("functions.text.quality_s", lambda: near.filter(quality_score("text") >= 0.3), "quality")
        bench = self.bench.withColumn("text", normalize_unicode("text"))
        clean = timed("operators.decontam.decontaminate_s",
                      lambda: decontam.decontaminate(good, bench, "text", "doc_id", n=13), "decontam")
        # checked by verify() like a pipeline run: the decomposition
        # must keep exactly the planted survivors too
        self.runs.append({int(r["doc_id"]) for r in clean.select("doc_id").collect()})

        # LSH work accounting with the same signature parameters as
        # minhash_lsh_dedup_pairs (3-gram shingles, 8 hashes, 4 bands)
        sig = dedup.minhash_from_shingles(dedup.shingles(deduped, "text", "doc_id", 3), "doc_id", 8)
        cands = len(dedup.lsh_candidate_pairs(sig, "doc_id", 4).collect())
        banded = sig.select(F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(3)), lambda b: F.to_json(F.slice("sig", b * 2 + 1, 2))
        )).alias("band", "bucket"))
        biggest = banded.groupBy("band", "bucket").count().agg(F.max("count")).collect()[0][0]
        verified = st["operators.dedup.lsh_pairs_s.rows_out"]
        st["operators.dedup.candidate_pairs"] = cands
        st["operators.dedup.verified_pairs"] = verified
        st["operators.dedup.pair_yield"] = verified / max(1, cands)
        st["operators.dedup.max_band_bucket"] = biggest
        release(self.spark)
        return 1

    def layers(self, tracer, ev) -> dict:
        out = {}
        for name in ("pipelines.normalize_s", "operators.dedup.exact_s", "operators.dedup.lsh_pairs_s",
                     "operators.dedup.components_s", "functions.text.quality_s",
                     "operators.decontam.decontaminate_s"):
            out[name] = self.stage[name]
            out[name[:-2] + ".rows_out"] = self.stage[name + ".rows_out"]
        for k in ("candidate_pairs", "verified_pairs", "pair_yield", "max_band_bucket"):
            out[f"operators.dedup.{k}"] = self.stage[f"operators.dedup.{k}"]
        return out


WORKLOADS = {"cdc_upsert": CdcUpsert, "search_mix": SearchMix, "corpus_clean": CorpusClean}
