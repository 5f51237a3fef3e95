"""The benchmark workloads.

Each workload builds its fixture, warms up (a fixed list of ops, checked),
then runs a closed loop with one client over the same cycle for
the measured window. The window ends only at a cycle boundary, so every run
measures the same op mix however fast the host or the program is. Every
op's output is checked against answers computed without the engine; a
wrong or failed op is recorded as failed. With tracing on, successive
cycles alternate between traced and untraced, so the difference of their
latency medians is the tracing overhead.
"""

from __future__ import annotations

import glob
import http.client
import json
import math
import os
import random
import statistics
import threading
import time
import traceback
from bisect import bisect_left
from contextlib import contextmanager, nullcontext
from itertools import accumulate

from perfbench import corpus, tables
from perfbench.stats import OpLog
from perfbench.trace import Tracer

OFF = Tracer(None, False)      # the tracer an untraced op records into


def make(name: str, seed: int, work: str):
    return {"chat_graph": ChatGraph, "bulletin_ingest": BulletinIngest,
            "analytics_sf01": AnalyticsSF01}[name](seed, work)


class ZipfPicker:
    """Seeded Zipf(s) choice over ``items`` (rank 1 = items[0])."""

    def __init__(self, rng: random.Random, items: list, s: float):
        self.rng, self.items = rng, items
        self.cum = list(accumulate(corpus.zipf_weights(len(items), s)))

    def __call__(self):
        return self.items[bisect_left(self.cum, self.rng.random() * self.cum[-1])]


def _median(xs) -> float:
    """Median; NaN when a layer was never reached, so it cannot pass as 0."""
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_match(got: list[dict], want: list[dict], exact: bool = False) -> bool:
    """Order-insensitive row-set equality; floats compare to 1e-6 unless
    ``exact`` (bit-exact, as the parity tests compare registry keys)."""
    if len(got) != len(want):
        return False
    if got and set(got[0]) != set(want[0]):
        return False
    key = lambda r: tuple(f"{r[k]:.4f}" if isinstance(r[k], float)  # noqa: E731
                          else str(r[k]) for k in sorted(r))
    same = (lambda x, y: x == y) if exact else _close
    return all(all(same(a[k], b[k]) for k in a)
               for a, b in zip(sorted(got, key=key), sorted(want, key=key)))


def duckdb_rows(sf_dir: str, queries: dict[str, str]) -> dict[str, list[dict]]:
    """Run each SQL text with DuckDB over the parquet tables in ``sf_dir``."""
    import duckdb
    con = duckdb.connect()
    try:
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, sql in queries.items():
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            out[name] = [dict(zip(cols, r)) for r in cur.fetchall()]
        return out
    finally:
        con.close()


def write_model_store(spark, model: corpus.GraphModel, path: str) -> None:
    """Write the model's graph with ``GraphStore.write_atomic``, the store's
    own writer and layout, without running the XML shredder."""
    from pyspark.sql import functions as F

    from graph_database_project_spark.graph.store import GraphStore
    nodes_pdf, edges_pdf = model.frames()
    nodes = spark.createDataFrame(
        nodes_pdf, "id long, label string, name string, content string, "
                   "docnbr string, batch string"
    ).select("id", F.array("label", "batch").alias("labels"), "name",
             "content", "docnbr", "batch",
             F.create_map(F.lit("added_for_bulletin"), F.lit("true")).alias("props"))
    edges = spark.createDataFrame(
        edges_pdf, "src long, dst long, rel_type string, batch string")
    GraphStore(nodes, edges).write_atomic(path)


class Workload:
    TAIL_Q = 90.0            # fixed so runs stay comparable (see stats.OpLog)
    CYCLE: list[str] = []
    WARM_UP: list[str] = []  # ops run before the window; empty: one CYCLE
    # whole cycles a window holds at least, so the median cycle rate has a
    # middle value and a traced run has traced and untraced cycles
    MIN_CYCLES = 3

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        os.makedirs(work, exist_ok=True)
        self.spark = None
        self.session_s = 0.0
        self.tracer = OFF
        self.setup_steps: dict[str, float] = {}
        self.traced_lat: dict[str, list[float]] = {}
        self.untraced_lat: dict[str, list[float]] = {}

    @contextmanager
    def _step(self, name: str):
        """Time one set-up step into ``setup_steps`` (printed in the report)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_steps[name] = time.perf_counter() - t0

    # subclasses: build(spark), run_op(kind, traced) -> (ok, error text)
    def warm_up(self, log: OpLog) -> None:
        """Run ``WARM_UP`` outside the measured window; a wrong output still
        counts as a failed op."""
        for kind in self.WARM_UP or self.CYCLE:
            try:
                ok, err = self.run_op(kind, False)
            except Exception:
                ok, err = False, traceback.format_exc(limit=3)
            if not ok:
                log.record(0.0, False, f"warm-up {kind}: {err}")

    def measure(self, tracer: Tracer, seconds: float, log: OpLog) -> OpLog:
        """Closed loop over ``CYCLE`` in whole cycles, at least
        ``MIN_CYCLES`` (two when traced), until ``seconds`` have passed.
        Each cycle's throughput goes to ``log.end_cycle``. In a traced run
        the cycles alternate: the first traced, the second untraced, and so
        on."""
        self.tracer = tracer
        n = len(self.CYCLE)
        t0 = time.perf_counter()
        t_end = t0 + seconds
        i = 0
        c0, book0, ok0 = t0, tracer.bookkeeping_s, 0
        cycles = max(self.MIN_CYCLES, 2 if tracer.enabled else 1)
        while (i % n or i < cycles * n
               or time.perf_counter() < t_end):
            kind = self.CYCLE[i % n]
            traced = tracer.enabled and (i // n) % 2 == 0
            handle = tracer.begin_op(kind, traced)
            start = time.perf_counter()
            try:
                with tracer.span(f"op.{kind}") if traced else nullcontext():
                    ok, err = self.run_op(kind, traced)
            except Exception:   # an op that raises is a failed op
                ok, err = False, traceback.format_exc(limit=3)
            lat = time.perf_counter() - start
            tracer.end_op(handle, lat, ok)
            if ok and tracer.enabled:
                lats = self.traced_lat if traced else self.untraced_lat
                lats.setdefault(kind, []).append(lat)
            log.record(lat, ok, f"{kind}#{i}: {err}", kind)
            if traced:
                self.after_traced_op(kind)
            i += 1
            if i % n == 0:
                now = time.perf_counter()
                done = log.attempted - log.failed
                log.end_cycle(done - ok0,
                              now - c0 - (tracer.bookkeeping_s - book0))
                c0, book0, ok0 = now, tracer.bookkeeping_s, done
        log.wall_s = time.perf_counter() - t0 - tracer.bookkeeping_s
        return log

    def after_traced_op(self, kind: str) -> None:
        """Untimed work after a traced op (replays that split its time)."""

    def report_extra(self) -> dict:
        return {}

    def close(self) -> None:
        pass

    # -- per-layer helpers ---------------------------------------------------
    def _common_layers(self, tracer: Tracer) -> dict:
        gaps = [o["driver_gap_s"] * 1e3 for o in tracer.ops if o["ok"]]
        over = _median(_median(self.traced_lat[k]) - _median(v)
                       for k, v in self.untraced_lat.items()
                       if k in self.traced_lat) * 1e3
        return {
            "session.get_spark_s": self.session_s,
            "driver.gap_ms_per_op": _median(gaps),
            "trace.overhead_ms_per_op": over,
            "trace.bookkeeping_ms_per_op":
                tracer.bookkeeping_s * 1e3 / max(1, len(tracer.ops)),
        }

    def _khop_layers(self, tracer: Tracer) -> dict:
        subs = [o["sub"] for o in tracer.ops
                if o["ok"] and "graph.store.khop_build" in o["sub"]]
        return {
            "graph.store.khop_build_ms": self._ms(tracer, "graph.store.khop_build"),
            "graph.store.khop_execute_ms": self._ms(tracer, "graph.store.khop_execute"),
            "graph.traverse.jobs_per_khop": _median(
                x["graph.store.khop_build"]["jobs"]
                + x["graph.store.khop_execute"]["jobs"] for x in subs),
        }

    def _query_layers(self, tracer: Tracer, keys) -> dict:
        """``query.<key>.*`` from the ops of kind ``query.<key>``."""
        out = {}
        for key in keys:
            ops = self._ops_of(tracer, {f"query.{key}"})
            if not ops:
                continue
            out[f"query.{key}.s"] = _median(tracer.span_durations(f"query.{key}"))
            out[f"query.{key}.jobs"] = _median(o["jobs"] for o in ops)
            out[f"query.{key}.task_s"] = _median(o["task_s"] for o in ops)
            out[f"query.{key}.shuffle_bytes"] = _median(o["shuffle_bytes"] for o in ops)
        return out

    @staticmethod
    def _ms(tracer: Tracer, span: str) -> float:
        return _median(tracer.span_durations(span)) * 1e3

    @staticmethod
    def _ops_of(tracer: Tracer, kinds) -> list[dict]:
        return [o for o in tracer.ops if o["kind"] in kinds and o["ok"]]


# ---------------------------------------------------------------------------
# chat_graph
# ---------------------------------------------------------------------------

HEADER = ("MATCH (sb:ServiceBulletin {{name: '{d}'}})-[:HAS_HEADER]->(h:header)"
          "-[:HAS_SUBJECT]->(s:subject) RETURN sb.name AS docnbr, "
          "s.content AS subject")
AIRPLANES = ("MATCH (sb:ServiceBulletin {{name: '{d}'}})"
             "-[:HAS_PLANNING_INFORMATION]->(pi:planning_information)"
             "-[:HAS_EFFECTIVITY]->(eff:effectivity)-[:effects]->(a:Airplane)"
             "-[:includes]->(ln:LineNumber) "
             "RETURN a.name AS airplane, count(ln) AS n_lines")
SHARED = ("MATCH (a1:Airplane {{docnbr: '{d}'}})<-[:included_in]-(ln:LineNumber)"
          "-[:included_in]->(a2:Airplane) WHERE a2.docnbr <> '{d}' "
          "RETURN a2.docnbr AS other, count(DISTINCT ln.name) AS shared")
TASKS = ("MATCH (t:task {{docnbr: '{d}'}})-[:HAS_TASK_HOURS]->(th:task_hours) "
         "RETURN count(*) AS n_tasks, sum(toInteger(th.content)) AS total_hours")
PATTERNS = {"pattern_header": HEADER, "pattern_airplanes": AIRPLANES,
            "pattern_shared": SHARED, "pattern_tasks": TASKS}

# NL questions and the DuckDB SQL that answers each one independently.
NL_QUESTIONS = {
    "how many orders": "SELECT count(*) AS n FROM orders",
    "how many orders per priority":
        "SELECT o_orderpriority AS priority, count(*) AS n FROM orders GROUP BY 1",
    "top 5 customers by revenue":
        "SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1, 2 "
        "ORDER BY revenue DESC, c_custkey LIMIT 5",
    "total revenue per nation in region 'ASIA'":
        "SELECT n_name, round(sum(o_totalprice), 2) AS revenue FROM region "
        "JOIN nation ON r_regionkey = n_regionkey JOIN customer ON "
        "n_nationkey = c_nationkey JOIN orders ON c_custkey = o_custkey "
        "WHERE r_name = 'ASIA' GROUP BY n_name",
    "how many distinct c_mktsegment values in customer":
        "SELECT count(DISTINCT c_mktsegment) AS n FROM customer",
    "maximum l_quantity in lineitem":
        "SELECT round(max(l_quantity), 6) AS max_l_quantity FROM lineitem",
}

# Registry keys a chat client runs through POST /query; each result fits in
# ROW_CAP rows, so the whole result is checked against the key's oracle.
QUERY_KEYS = ["q01_pricing_summary", "graph_triangle_count"]


class ChatGraph(Workload):
    """Closed loop, one client, over a store of 60 generated bulletins and
    the sf0.01 tables behind the HTTP API. The store is written from the
    corpus model with ``GraphStore.write_atomic``, so this workload never
    runs the XML shredder."""
    N_DOCS = 60
    DOC_ZIPF_S = 1.0      # chosen skew of the bulletin a request starts from
    # A chosen mix, not observed traffic: one request of each class per
    # cycle, the slow classes between the fast pattern shapes.
    CYCLE = ["pattern_header", "khop", "pattern_airplanes", "nl",
             "pattern_shared", *(f"query.{k}" for k in QUERY_KEYS[:1]),
             "pattern_tasks", *(f"query.{k}" for k in QUERY_KEYS[1:])]
    # The warm-up is one cycle, the cold one. The window's first cycle is
    # still the slowest (JIT warm-up); ops_per_s, the median cycle rate,
    # skips it.

    def build(self, spark) -> None:
        from graph_database_project_spark.api import create_server
        from graph_database_project_spark.graph.shred import DEFAULT_BATCH
        from graph_database_project_spark.graph.store import GraphStore
        from graph_database_project_spark.registry import all_oracles

        self.spark = spark
        with self._step("corpus"):
            gen = corpus.CorpusGenerator(self.seed)
            docs = [gen.new_bulletin() for _ in range(self.N_DOCS)]
            self.batch = DEFAULT_BATCH
            self.model = corpus.GraphModel()
            for b in docs:
                self.model.add_document(b.xml, self.batch)
            store_path = os.path.join(self.work, "store")
            write_model_store(spark, self.model, store_path)
        with self._step("catalog"):
            self.store = GraphStore.read(spark, store_path)
            self.label_counts = {r.label: r.n_nodes
                                 for r in self.store.catalog_labels().collect()}
        self.sf_dir = os.path.join(self.work, "sf0.01")
        with self._step("tables"):
            tables.write(tables.generate(0.01, self.seed), self.sf_dir)
        with self._step("server"):
            self.server = create_server(spark, self.sf_dir)
            self.server_thread = threading.Thread(
                target=self.server.serve_forever,
                kwargs={"poll_interval": 0.05}, daemon=True)
            self.server_thread.start()
            self.conn = http.client.HTTPConnection(
                "127.0.0.1", self.server.server_port, timeout=120)
        with self._step("expected"):   # from the XML and DuckDB only
            self.facts = {b.docnbr: corpus.doc_facts(b.xml) for b in docs}
            self.by_line: dict[str, set[str]] = {}
            for dn, f in self.facts.items():
                for ln in f.lines:
                    self.by_line.setdefault(ln, set()).add(dn)
            self.nl_expected = duckdb_rows(self.sf_dir, NL_QUESTIONS)
            oracles = all_oracles()
            self.query_expected = duckdb_rows(
                self.sf_dir, {k: oracles[k] for k in QUERY_KEYS})
        rng = random.Random(self.seed * 7919 + 1)
        ranked = sorted(self.facts)
        rng.shuffle(ranked)
        self.pick_doc = ZipfPicker(rng, ranked, self.DOC_ZIPF_S)
        self.n_nl = 0          # NL questions are asked in turn
        self.nl_replay: list[dict] = []

    # -- ops -------------------------------------------------------------------
    def run_op(self, kind: str, traced: bool):
        t = self.tracer if traced else OFF
        if kind == "nl":
            return self._nl(t)
        if kind.startswith("query."):
            return self._query(kind[len("query."):], t)
        d = self.pick_doc()
        if kind == "khop":
            return self._khop(d, t)
        return self._pattern(kind, d, t)

    def _pattern(self, kind: str, d: str, t: Tracer):
        from graph_database_project_spark.graph.pattern import match_pattern, parse_match
        text = PATTERNS[kind].format(d=d)
        if t.enabled:   # parse on its own only to time it
            with t.span("graph.pattern.parse"):
                parse_match(text)
        with t.span("graph.pattern.compile", jobs=True):
            df = match_pattern(self.store.nodes, self.store.edges, text,
                               label_counts=self.label_counts,
                               edges_deduped=True)
        with t.span("graph.motif.execute", jobs=True):
            rows = [r.asDict() for r in df.collect()]
        want = self._pattern_expected(kind, d)
        return rows_match(rows, want), f"{kind} {d}: got {rows[:3]} want {want[:3]}"

    def _pattern_expected(self, kind: str, d: str) -> list[dict]:
        f = self.facts[d]
        if kind == "pattern_header":
            return [{"docnbr": d, "subject": f.subject}]
        if kind == "pattern_airplanes":
            return [{"airplane": t, "n_lines": len(set(f.lines))} for t in f.types]
        if kind == "pattern_tasks":
            return [{"n_tasks": len(f.task_hours), "total_hours": sum(f.task_hours)}]
        shared: dict[str, int] = {}
        for ln in set(f.lines):
            for other in self.by_line[ln] - {d}:
                shared[other] = shared.get(other, 0) + 1
        return [{"other": o, "shared": n} for o, n in shared.items()]

    def _khop(self, d: str, t: Tracer):
        from pyspark.sql import functions as F
        with t.span("graph.store.khop_build", jobs=True):
            df = self.store.khop_grouped(
                F.array_contains("labels", "ServiceBulletin") & (F.col("name") == d),
                depth=3)
        with t.span("graph.store.khop_execute", jobs=True):
            rows = df.collect()
        n, names = self.model.khop_grouped(d, self.batch)
        ok = (len(rows) == 1 and rows[0].seed_name == d
              and rows[0].n_connected == n and rows[0].connected_names == names)
        return ok, f"khop {d}: got {rows[0].n_connected if rows else None} want {n}"

    def _nl(self, t: Tracer):
        q = list(NL_QUESTIONS)[self.n_nl % len(NL_QUESTIONS)]
        self.n_nl += 1
        status, payload = self._post(
            "/chat", {"messages": [{"role": "user", "content": q}]}, t,
            "api.roundtrip")
        if status != 200:
            return False, f"nl {q!r}: HTTP {status} {payload}"
        if t.enabled:
            self.nl_replay.append({"q": q})
        want = self.nl_expected[q]
        return rows_match(payload["rows"], want), \
            f"nl {q!r}: got {payload['rows'][:3]} want {want[:3]}"

    def _query(self, key: str, t: Tracer):
        status, payload = self._post("/query", {"name": key}, t, f"query.{key}")
        ok = status == 200 and rows_match(payload["rows"],
                                          self.query_expected[key], exact=True)
        return ok, f"query {key}: HTTP {status} got {str(payload)[:300]}"

    def _post(self, path: str, body: dict, t: Tracer, span: str):
        with t.span(span):
            self.conn.request("POST", path, json.dumps(body),
                              {"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            return resp.status, json.loads(resp.read())

    def after_traced_op(self, kind: str) -> None:
        """Replay a traced NL question in-process, outside the op's latency,
        to split the server's answer into catalog / translate / execute; the
        rest of the HTTP round trip is the API's own cost."""
        if kind != "nl" or not self.nl_replay or "catalog_s" in self.nl_replay[-1]:
            return
        from graph_database_project_spark.api import ROW_CAP
        from graph_database_project_spark.plans.nl2query import (
            derive_catalog, resolve_question, rule_based_translate)
        rec = self.nl_replay[-1]
        t0 = time.perf_counter()
        q = resolve_question([rec["q"]])
        catalog = derive_catalog(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        sql = rule_based_translate(q, catalog)
        t2 = time.perf_counter()
        self.spark.sql(sql).limit(ROW_CAP).collect()
        t3 = time.perf_counter()
        rec.update(catalog_s=t1 - t0, translate_s=t2 - t1, execute_s=t3 - t2,
                   roundtrip_s=self.tracer.span_durations("api.roundtrip")[-1])

    def layer_metrics(self, tracer: Tracer) -> dict:
        pat = self._ops_of(tracer, PATTERNS)
        rep = [r for r in self.nl_replay if "catalog_s" in r]
        out = self._common_layers(tracer)
        out.update(self._khop_layers(tracer))
        out.update(self._query_layers(tracer, QUERY_KEYS))
        out.update({
            "graph.pattern.parse_ms": self._ms(tracer, "graph.pattern.parse"),
            "graph.pattern.compile_ms": self._ms(tracer, "graph.pattern.compile"),
            "graph.motif.execute_ms": self._ms(tracer, "graph.motif.execute"),
            "graph.motif.jobs_per_op": _median(o["jobs"] for o in pat),
            "graph.motif.shuffle_bytes_per_op": _median(o["shuffle_bytes"] for o in pat),
            "plans.nl2query.catalog_ms": _median(r["catalog_s"] for r in rep) * 1e3,
            "plans.nl2query.translate_ms": _median(r["translate_s"] for r in rep) * 1e3,
            "plans.nl2query.execute_ms": _median(r["execute_s"] for r in rep) * 1e3,
            "api.roundtrip_ms": _median(r["roundtrip_s"] for r in rep) * 1e3,
            "api.overhead_ms": _median(
                r["roundtrip_s"] - r["catalog_s"] - r["translate_s"] - r["execute_s"]
                for r in rep) * 1e3,
        })
        return out

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self.conn.close()
            self.server.shutdown()
            self.server.server_close()
            self.server_thread.join(timeout=30)
            self.server = None


# ---------------------------------------------------------------------------
# bulletin_ingest
# ---------------------------------------------------------------------------

class BulletinIngest(Workload):
    """Batches of 10 bulletins (new ones and revised re-issues) committed to
    a Parquet store that starts from one ingested base batch. Each mutation
    is one op. A cycle commits a batch, rolls it back with ``delete_batch``
    and compacts the store, with a verification read after the commit and
    the rollback; ``compact`` checks its own row counts. A cycle leaves the
    store as it found it, so later cycles cost what earlier ones did. The
    warm-up cycle also re-merges its batch and checks that nothing
    changed."""
    N_BASE = 20
    BATCH = 10
    REVISED_SHARE = 0.3   # chosen share of revised re-issues in a batch
    CYCLE = ["commit", "verify", "rollback", "verify", "compact"]
    # the read after the re-merge checks the commit and the re-merge at once
    WARM_UP = ["commit", "remerge", "verify", "rollback", "verify", "compact"]

    def build(self, spark) -> None:
        self.spark = spark
        self.store_path = os.path.join(self.work, "store")
        self.gen = corpus.CorpusGenerator(self.seed)
        self.model = corpus.GraphModel()
        self.batches: list[tuple[str, list[corpus.Bulletin]]] = []
        self.n_batch = 0
        self.input_bytes: dict[str, int] = {}
        self.files: list[int] = []
        self.last: tuple[str, str | None, str | None] = ("build", None, None)
        self.docs_durable = self.n_commit = 0
        with self._step("base_store"):
            from graph_database_project_spark.graph.store import GraphStore
            label, docs, paths = self._next_batch(self.N_BASE, 0.0)
            GraphStore(*self._ingest(paths, label, OFF)).write_atomic(self.store_path)
            self._release(paths)
            self._commit_model(label, docs)

    def _next_batch(self, n: int, revised: float):
        self.n_batch += 1
        label = f"Batch_b{self.n_batch:04d}"
        docs = self.gen.batch(n, revised)
        bdir = os.path.join(self.work, "xml", label)
        os.makedirs(bdir)
        for i, b in enumerate(docs):
            with open(os.path.join(bdir, f"sb{i:03d}.xml"), "w") as fh:
                fh.write(b.xml)
        self.input_bytes[label] = sum(len(b.xml.encode()) for b in docs)
        return label, docs, f"{bdir}/*.xml"

    def _commit_model(self, label: str, docs) -> None:
        for b in docs:
            self.model.add_document(b.xml, label)
        self.batches.append((label, docs))

    def _ingest(self, paths: str, label: str, t: Tracer):
        """``ingest_xml``; traced, the shred is materialised on its own first
        so its time and tasks can be told apart from the graph build."""
        from graph_database_project_spark.graph.shred import (
            build_graph, ingest_xml, shred_xml)
        if not t.enabled:
            return ingest_xml(self.spark, paths, batch=label)
        with t.span("graph.shred.shred", jobs=True):
            sh = shred_xml(self.spark, paths).cache()
            sh.count()
        with t.span("graph.shred.build_graph"):
            return build_graph(sh, batch=label)

    def _release(self, paths: str) -> None:
        """Drop the shred cache ``build_graph`` leaves behind."""
        from graph_database_project_spark.graph.shred import shred_xml
        shred_xml(self.spark, paths).unpersist()

    def run_op(self, kind: str, traced: bool):
        from graph_database_project_spark.graph.store import GraphStore
        t = self.tracer if traced else OFF
        if kind == "verify":
            last, self.last = self.last, ("verify", None, None)
            return self._verify(*last, t)
        store = GraphStore.read(self.spark, self.store_path)
        if kind in ("commit", "remerge"):
            if kind == "commit":
                label, docs, paths = self._next_batch(self.BATCH, self.REVISED_SHARE)
            else:
                label, docs = self.batches[-1]
                paths = os.path.join(self.work, "xml", label, "*.xml")
            nodes, edges = self._ingest(paths, label, t)
            with t.span("graph.store.merge"):
                merged = store.merge(nodes, edges)
            with t.span("graph.store.write_atomic"):
                merged.write_atomic(self.store_path)
            self._release(paths)
            if kind == "commit":
                self._commit_model(label, docs)
                self.docs_durable += len(docs)
                self.n_commit += 1
            if t.enabled:
                self.files.append(len(self._parquet_files()))
            self.last = (kind, docs[0].docnbr, label)
            return True, ""
        self.last = (kind, None, None)
        if kind == "rollback":
            label, _ = self.batches.pop()
            with t.span("graph.store.delete_batch"):
                store.delete_batch(label).write_atomic(self.store_path)
            self.model.delete_batch(label)
            del self.input_bytes[label]
            return True, ""
        with t.span("graph.store.compact"):
            stats = GraphStore.compact(self.spark, self.store_path)
        rows = (stats["nodes"]["rows"], stats["edges"]["rows"])
        want = (len(self.model.nodes), len(self.model.edges))
        return rows == want, f"compact rows {rows} want {want}"

    def _parquet_files(self) -> list[str]:
        return glob.glob(os.path.join(self.store_path, "**", "*.parquet"),
                         recursive=True)

    def _verify(self, kind: str, docnbr, label, t: Tracer):
        """Label counts and edge count against the model after ``kind``;
        after a commit or re-merge, one depth-3 k-hop from a bulletin of
        that batch."""
        from pyspark.sql import functions as F

        from graph_database_project_spark.graph.store import GraphStore
        with t.span("verify.read"):
            store = GraphStore.read(self.spark, self.store_path)
            labels = {r.label: r.n_nodes for r in store.catalog_labels().collect()}
            n_edges = store.edges.count()
        want = self.model.label_counts()
        if labels != want or n_edges != len(self.model.edges):
            diff = {k: (labels.get(k), want.get(k)) for k in set(labels) | set(want)
                    if labels.get(k) != want.get(k)}
            return False, (f"{kind}: label diff {diff} edges {n_edges} "
                           f"want {len(self.model.edges)}")
        if docnbr is None:
            return True, ""
        with t.span("graph.store.khop_build", jobs=True):
            df = store.khop_grouped(
                F.array_contains("labels", "ServiceBulletin")
                & (F.col("name") == docnbr) & (F.col("batch") == label),
                depth=3)
        with t.span("graph.store.khop_execute", jobs=True):
            rows = df.collect()
        n, names = self.model.khop_grouped(docnbr, label)
        ok = (len(rows) == 1 and rows[0].n_connected == n
              and rows[0].connected_names == names)
        return ok, f"{kind}: khop {docnbr} got {rows[:1]} want {n}"

    def measure(self, tracer: Tracer, seconds: float, log: OpLog) -> OpLog:
        self.docs_durable = self.n_commit = 0    # warm-up commits not counted
        log = super().measure(tracer, seconds, log)
        self.docs_per_s = self.docs_durable / log.wall_s
        self.bytes_ratio = (sum(os.path.getsize(p) for p in self._parquet_files())
                            / sum(self.input_bytes.values()))
        return log

    def report_extra(self) -> dict:
        return {"docs_per_s": (self.docs_per_s, "1/s", self.n_commit),
                "store_bytes_per_input_byte": (self.bytes_ratio, "B/B", 1)}

    def layer_metrics(self, tracer: Tracer) -> dict:
        shred = [o["sub"]["graph.shred.shred"] for o in tracer.ops
                 if o["ok"] and "graph.shred.shred" in o["sub"]]
        med = lambda name: _median(tracer.span_durations(name))  # noqa: E731
        out = self._common_layers(tracer)
        out.update(self._khop_layers(tracer))
        out.update({
            "graph.shred.shred_s": med("graph.shred.shred"),
            "graph.shred.tasks_per_doc": _median(w["tasks"] for w in shred) / self.BATCH,
            "graph.shred.task_s": _median(w["task_s"] for w in shred),
            "graph.shred.build_graph_s": med("graph.shred.build_graph"),
            "graph.store.merge_s": med("graph.store.merge"),
            "graph.store.write_atomic_s": med("graph.store.write_atomic"),
            "graph.store.delete_batch_s": med("graph.store.delete_batch"),
            "graph.store.compact_s": med("graph.store.compact"),
            "graph.store.files_written_per_batch": _median(self.files),
            "ingest.docs_per_s": self.docs_per_s,
            "ingest.store_bytes_per_input_byte": self.bytes_ratio,
        })
        return out


# ---------------------------------------------------------------------------
# analytics_sf01
# ---------------------------------------------------------------------------

class AnalyticsSF01(Workload):
    """Repeated passes over registry keys on generated sf0.1 tables, each
    sunk to ``noop``. Every key is checked once per run against its DuckDB
    oracle with the parity tests' comparator, during warm-up.

    Not in BENCHMARK.json: its cold checking pass alone takes over a minute
    on 4 cores, longer than a whole run of the other workloads. Run it with
    ``--workload analytics_sf01`` (a longer ``--seconds`` covers more
    passes)."""
    SF = 0.1
    MIN_CYCLES = 1           # one pass over 22 keys is already a long window

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        import bench
        self.keys = list(bench.HEADLINE) + [
            "stream_tumbling_hourly", "multimodal_png_decode", "graph_mis_luby"]
        self.CYCLE = [f"query.{k}" for k in self.keys]

    def build(self, spark) -> None:
        self.spark = spark
        self.sf_dir = os.path.join(self.work, "sf0.1")
        with self._step("tables"):
            tables.write(tables.generate(self.SF, self.seed), self.sf_dir)

    def warm_up(self, log: OpLog) -> None:
        import duckdb

        from graph_database_project_spark.registry import all_oracles, all_queries
        from tests.oracle import compare
        self.queries = all_queries()
        oracles = all_oracles()
        con = duckdb.connect()
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        self.wrong: dict[str, str] = {}
        for key in self.keys:
            try:
                compare(self.queries[key](self.spark, self.sf_dir),
                        con.execute(oracles[key]).df(), key, bitexact=True)
            except AssertionError as exc:
                self.wrong[key] = str(exc)[:500]
                log.record(0.0, False, f"check {key}: {self.wrong[key]}")
        con.close()

    def run_op(self, kind: str, traced: bool):
        key = kind[len("query."):]
        if key in self.wrong:   # every op of a key with a wrong answer fails
            return False, self.wrong[key]
        t = self.tracer if traced else OFF
        with t.span(kind):
            self.queries[key](self.spark, self.sf_dir) \
                .write.format("noop").mode("overwrite").save()
        return True, ""

    def layer_metrics(self, tracer: Tracer) -> dict:
        out = self._common_layers(tracer)
        out.update(self._query_layers(tracer, self.keys))
        return out


QUERY_UNITS = {"s": "s", "jobs": "count", "task_s": "s", "shuffle_bytes": "B"}

# Every per-layer metric of the BENCHMARK.json workloads, with its unit. Each traced
# run reports all of them; a layer a workload never enters reads 0 there.
PER_LAYER = {
    "session.get_spark_s": "s",
    "driver.gap_ms_per_op": "ms",
    "trace.overhead_ms_per_op": "ms",
    "trace.bookkeeping_ms_per_op": "ms",
    "graph.pattern.parse_ms": "ms",
    "graph.pattern.compile_ms": "ms",
    "graph.motif.execute_ms": "ms",
    "graph.motif.jobs_per_op": "count",
    "graph.motif.shuffle_bytes_per_op": "B",
    "graph.store.khop_build_ms": "ms",
    "graph.store.khop_execute_ms": "ms",
    "graph.traverse.jobs_per_khop": "count",
    "plans.nl2query.catalog_ms": "ms",
    "plans.nl2query.translate_ms": "ms",
    "plans.nl2query.execute_ms": "ms",
    "api.roundtrip_ms": "ms",
    "api.overhead_ms": "ms",
    "graph.shred.shred_s": "s",
    "graph.shred.tasks_per_doc": "count",
    "graph.shred.task_s": "s",
    "graph.shred.build_graph_s": "s",
    "graph.store.merge_s": "s",
    "graph.store.write_atomic_s": "s",
    "graph.store.delete_batch_s": "s",
    "graph.store.compact_s": "s",
    "graph.store.files_written_per_batch": "count",
    "ingest.docs_per_s": "1/s",
    "ingest.store_bytes_per_input_byte": "B/B",
    **{f"query.{k}.{m}": u for k in QUERY_KEYS for m, u in QUERY_UNITS.items()},
}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, ``query.<key>.*`` of any key included."""
    return PER_LAYER.get(name) or QUERY_UNITS[name.rsplit(".", 1)[1]]
