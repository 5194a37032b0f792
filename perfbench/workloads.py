"""The benchmark's workloads: ``serve`` and ``ingest``.

Both drive the package only through its public surface
(``plans.QUERIES``/``ORACLES``, ``sources.*``, ``operators.*``,
``streaming.ops``, ``ml.*``) and time every call from outside. Every
operation falls in one of four kinds, so both workloads report the same
end-to-end metrics:

- ``query``: an analyst statement (serve) or a per-``event_type`` aggregate
  over the current Delta and then the current Iceberg snapshot (ingest):
  fresh build, optimize, execute, Arrow fetch;
- ``lookup``: a knowledge-base top-k retrieval (serve) or a one-user point
  read through ``scan_filter`` of both snapshots (ingest);
- ``commit``: a writer operation that makes user rows visible;
- ``maintenance``: compaction of the written tables, every
  ``COMPACT_EVERY`` merges.

Each workload's ``setup`` builds the registry's table cache, writes its
fixtures and warms its operations, all on one thread pool. The traced run
ends with the layers no window exercises: serve's nightly model refresh
(``ml``), ingest's SimHash screen (``hamming_index``).
"""

from __future__ import annotations

import hashlib
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from checks import approx_equal, canonical_rows, jaccard, result_hash, shingles
from datagen import doc_text, make_events

# oracle-paired analyst statements, one per statement family (NOC risk,
# aggregate, join, window, JSON) and of similar cost, so the window's median
# does not jump between cost clusters; every distinct statement pays its
# first-run compilation in every run, so the list is kept short
SERVE_STATEMENTS = (
    "q0_flagship_risk", "q1_pricing_summary", "q2_join_topn",
    "q3_window_rank", "q6_json_extract",
)
SERVE_CLIENTS = 4
KB_QUERIES, KB_K, KB_NPROBE, KB_CELLS = 8, 5, 4, 16
DISPATCH_CLUSTERS = 4

INGEST_READERS = 2
INGEST_TICKS = 40         # backlog length; the writer stops when drained
INGEST_UNSEEN_DOCS = 12   # per tick, from the 20% split, in doc_id order
INGEST_REDELIVERED = 6    # exact re-deliveries of corpus docs
INGEST_PERTURBED = 6      # long corpus docs with the last word changed, new ids
PERTURB_MIN_WORDS = 60    # so a perturbed doc keeps a Jaccard of >= 0.96
INGEST_CDC_UPDATES = 200
INGEST_CDC_INSERTS = 200
# merges between compactions; setup applies the first (the lake starts one
# merge past its last compaction), so the window's first tick compacts
COMPACT_EVERY = 2
PERTURBED_ID0 = 10_000_000
# the gate's shingle size (build_minhash_index default), and the
# exact-Jaccard bands inside which its verdict is certain: with 32 hashes in
# 8 bands and the 0.7 threshold of dedup_gate_batch, a pair at >= SURE_DUP
# is a candidate and verifies with probability > 1 - 1e-5, one at
# <= SURE_NOVEL verifies with probability < 1e-3
SHINGLE_K = 3
SURE_DUP, SURE_NOVEL = 0.95, 0.4
SIMHASH_FAMILY, SIMHASH_MAX_HAMMING = "simhash", 3
FORMATS = ("delta", "iceberg")


@dataclass
class Op:
    kind: str
    name: str
    t0: float
    dur: float
    ok: bool
    approx: bool = False


@dataclass
class Recorder:
    """Thread-safe log of the measured operations and check failures."""

    ops: list[Op] = field(default_factory=list)
    parts: list[Op] = field(default_factory=list)  # parts of ops, for the report
    failures: list[str] = field(default_factory=list)
    pending: list = field(default_factory=list)  # (op, table, error, check)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, op: Op, why: str | None = None) -> None:
        with self.lock:
            self.ops.append(op)
            if why:
                self.failures.append(f"{op.name}: {why}")

    def defer(self, op: Op, table, err: str | None, check) -> None:
        """Queue ``op`` and its output for :meth:`settle`, which records it
        with ``check(op, table)``: an error text, or None when the output
        is right."""
        with self.lock:
            self.pending.append((op, table, err, check))

    def settle(self) -> None:
        """Run the deferred checks, outside any timed window."""
        with self.lock:
            pending, self.pending = self.pending, []
        for op, table, err, check in pending:
            if table is not None:
                err = check(op, table)
            op.ok = op.ok and err is None
            self.add(op, err)

    def fail(self, why: str) -> None:
        with self.lock:
            self.failures.append(why)


def same_rows(got: pa.Table, want: pa.Table, key: str) -> bool:
    """Equal as row sets with unique ``key``: same columns, and the same
    values once both are sorted by ``key`` and timestamps compared as
    naive microseconds. Vectorised, for whole-table checks."""
    if sorted(got.column_names) != sorted(want.column_names) or got.num_rows != want.num_rows:
        return False

    def norm(t: pa.Table) -> pa.Table:
        t = t.select(sorted(t.column_names)).sort_by(key)
        cols = [c.cast(pa.timestamp("us")) if pa.types.is_timestamp(c.type) else c
                for c in t.columns]
        return pa.table(cols, names=t.column_names)

    return norm(got).equals(norm(want))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def parquet_bytes(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    n = os.path.getsize(path)
    os.remove(path)
    return n


class Workload:
    """Shared machinery: the session context, timed statements, and the
    closed-loop driver threads."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.data = ctx.data_dir
        self.rec = Recorder()
        self.fixture_dir = os.path.join(ctx.scratch, "fixtures")
        self.timings: dict[str, float] = {}  # layer timings taken outside setup
        self.start_window()

    final_checks = 1

    def prepare_checks(self) -> None:
        """Expected outputs that are computed once, outside the timing."""

    def start_window(self) -> None:
        self.window_rows = 0
        self.writer_s = 0.0  # wall time of the writer's ticks
        self.lake_stats = {"written_bytes": 0, "batch_bytes": 0, "commits": 0,
                           "writer_calls": 0, "maintenance_bytes": 0,
                           "delta_live_files": 0, "iceberg_live_delete_files": 0}

    def novel_share(self) -> float:
        return 0.0

    def lake_state(self) -> tuple[int, int]:
        """(bytes, commits) under the fixture directory; a commit is a
        Delta log version or an Iceberg metadata file."""
        size = commits = 0
        for root, _, files in os.walk(self.fixture_dir):
            for f in files:
                size += os.path.getsize(os.path.join(root, f))
                if (root.endswith("_delta_log") and f.endswith(".json")) or \
                        f.endswith(".metadata.json"):
                    commits += 1
        return size, commits

    def write_op(self, kind: str, name: str, fn, rows: int = 0, batch_bytes: int = 0):
        """One timed writer operation, with the bytes and commits it added
        to the fixture directory counted outside the timing. ``rows`` user
        rows become visible when it succeeds. Returns (Op, its result)."""
        b0, c0 = self.lake_state()
        op, out, err = self.timed(kind, name, fn)
        b1, c1 = self.lake_state()
        st = self.lake_stats
        if kind == "maintenance":
            st["maintenance_bytes"] += b1 - b0
        else:
            st["written_bytes"] += b1 - b0
            st["batch_bytes"] += batch_bytes
            st["commits"] += c1 - c0
            st["writer_calls"] += 1
        if op.ok:
            self.window_rows += rows
        self.rec.add(op, err)
        return op, out

    def setup(self) -> dict:
        """Set the workload up on one pool of ``nproc`` threads: the fixture
        builds first, the registry's table cache beside them, and, once the
        tables are cached, the warm pass's statements (``warm_tasks``),
        still beside the fixture builds; then ``warm_fixtures``, the part of
        the warm pass that needs the fixtures. Returns the wall time
        (``total_s``), the slowest cache load (``cache_s``) and each
        fixture's time."""
        from mysoftware_nocnetintel_spark.sources.registry import (
            enable_table_cache, load_table,
        )

        def timed(fn):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

        enable_table_cache(bool(self.tables))
        t0 = time.perf_counter()
        with ThreadPoolExecutor(self.ctx.nproc) as ex:
            fixtures = [(name, ex.submit(timed, fn)) for name, fn in self.fixtures(self.fixture_dir)]
            cache = [ex.submit(timed, lambda t=t: load_table(self.spark, self.data, t).count())
                     for t in self.tables]
            cache_s = [f.result() for f in cache]
            warm = [ex.submit(fn) for fn in self.warm_tasks()]
            out = {name: f.result() for name, f in fixtures}
            for f in warm:
                f.result()
        self.warm_fixtures()
        out.update(total_s=time.perf_counter() - t0, cache_s=max(cache_s, default=0.0))
        return out

    def warm_tasks(self) -> list:
        return []

    def warm_fixtures(self) -> None:
        pass

    def path(self, name: str) -> str:
        return os.path.join(self.fixture_dir, name)

    def statement(self, kind: str, name: str, build):
        """Build, optimize, execute and fetch one statement as one timed
        operation. Returns (Op, arrow table or None, error text)."""
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span(name, kind):
                with tr.span("build", "plans"):
                    df = build()
                with tr.span("optimize", "optimize"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("execute", "execute"):
                    table = df.toArrow()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            return Op(kind, name, t0, time.perf_counter() - t0, False), None, repr(e)[:300]
        return Op(kind, name, t0, time.perf_counter() - t0, True), table, None

    def timed(self, kind: str, name: str, fn):
        """One timed writer call. Returns (Op, result or None, error text)."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, "writer"):
                out = fn()
        except Exception as e:  # noqa: BLE001
            return Op(kind, name, t0, time.perf_counter() - t0, False), None, repr(e)[:300]
        return Op(kind, name, t0, time.perf_counter() - t0, True), out, None

    def run_threads(self, targets, seconds: float) -> tuple[float, float]:
        """Run each target(deadline) on its own thread until all return.
        Returns the measured window, from the start to the deadline: the
        operations still in flight at the deadline finish with fewer
        clients beside them, so they are not measured."""
        t0 = time.perf_counter()
        deadline = t0 + seconds
        threads = [threading.Thread(target=self._guard, args=(t, deadline)) for t in targets]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return t0, deadline

    def _guard(self, target, deadline):
        try:
            target(deadline)
        except Exception as e:  # noqa: BLE001 - a broken client is a failure, not a hang
            self.rec.fail(f"client crashed: {e!r}"[:300])


class Serve(Workload):
    """NOC analysts on one warm shared session: ``SERVE_CLIENTS`` closed-loop
    clients cycling through the oracle-paired statements, one of them
    opening each cycle with a knowledge-base lookup (IVF top-k of seeded
    corpus vectors against the index built in setup, which the window
    only reads). The traced run ends with the NOC's nightly model refresh:
    the outage-risk forecast fit and the FME dispatch plan."""

    # cached by setup; embeddings are cached by the index build that reads them
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents")

    def __init__(self, ctx):
        super().__init__(ctx)
        emb = pq.read_table(os.path.join(self.data, "embeddings.parquet"))
        self.base_ids = emb.column("vec_id").to_numpy()
        self.base_vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        self.oracle: dict[str, tuple] = {}
        self.plan: pa.Table | None = None

    def fixtures(self, root: str) -> list:
        from mysoftware_nocnetintel_spark.operators import ann_index
        from mysoftware_nocnetintel_spark.sources.registry import load_table

        def index():
            emb = load_table(self.spark, self.data, "embeddings").select("vec_id", "embedding")
            ann_index.build_ivf_index(emb, os.path.join(root, "kb_index"), n_cells=KB_CELLS)

        return [("ann_index.build_s", index)]

    def warm_tasks(self) -> list:
        return [lambda q=q: self.analyst(q) for q in SERVE_STATEMENTS]

    def warm_fixtures(self) -> None:
        self.kb_lookup(random.Random(self.ctx.seed))

    def refresh(self) -> None:
        """Fit the outage-risk model on the events (``ml.forecast``), score
        every event, and plan the dispatch of field engineers from each
        user's mean risk (``ml.dispatch``), timing the fit and the plan."""
        from pyspark.sql import functions as F

        from mysoftware_nocnetintel_spark.ml import dispatch, forecast
        from mysoftware_nocnetintel_spark.sources.registry import load_table

        feats = forecast.build_features(load_table(self.spark, self.data, "events"))
        t0 = time.perf_counter()
        model = forecast.fit_logistic(feats)
        t1 = time.perf_counter()
        risk = forecast.score(model, feats).groupBy("user_id").agg(
            F.avg("risk_prob").alias("risk_score"))
        self.plan = dispatch.dispatch_plan(risk, n_clusters=DISPATCH_CLUSTERS).toArrow()
        self.timings.update({"forecast.fit_s": t1 - t0, "dispatch.plan_s": time.perf_counter() - t1})

    def prepare_checks(self) -> None:
        import duckdb

        from mysoftware_nocnetintel_spark.plans import ORACLES
        from mysoftware_nocnetintel_spark.sources import TABLES, table_path

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{table_path(self.data, t)}')")
            for q in SERVE_STATEMENTS:
                want = con.sql(ORACLES[q]).arrow()
                if hasattr(want, "read_all"):
                    want = want.read_all()
                self.oracle[q] = (result_hash(want), want)
        finally:
            con.close()

    # -- operations --------------------------------------------------------

    def analyst(self, q: str) -> None:
        from mysoftware_nocnetintel_spark.plans import QUERIES

        op, table, err = self.statement("query", q, lambda: QUERIES[q](self.spark, self.data))
        self.rec.defer(op, table, err, self._check_oracle)

    def _check_oracle(self, op: Op, table: pa.Table) -> str | None:
        want_hash, want = self.oracle[op.name]
        if result_hash(table) == want_hash:
            return None
        if approx_equal(canonical_rows(table), canonical_rows(want)):
            op.approx = True
            return None
        return "result differs from the DuckDB oracle"

    def kb_lookup(self, rng: random.Random) -> None:
        """Look ``KB_QUERIES`` seeded corpus vectors up in the IVF index;
        each must be its own rank-1 hit."""
        from pyspark.sql import types as T

        from mysoftware_nocnetintel_spark.operators import ann_index

        pick = rng.sample(range(len(self.base_ids)), KB_QUERIES)
        rows = [(int(self.base_ids[i]), [float(x) for x in self.base_vecs[i]]) for i in pick]
        schema = T.StructType([T.StructField("qid", T.LongType()),
                               T.StructField("qv", T.ArrayType(T.DoubleType()))])
        path = self.path("kb_index")

        def build():
            queries = self.spark.createDataFrame(rows, schema)
            return ann_index.query_ivf_index(self.spark, queries, path, k=KB_K, nprobe=KB_NPROBE)

        op, table, err = self.statement("lookup", "kb_lookup", build)

        def check(op, table):
            top = {(q, v) for q, v, r in zip(table.column("qid").to_pylist(),
                                              table.column("vec_id").to_pylist(),
                                              table.column("rn").to_pylist()) if r == 1}
            missing = [q for q, _ in rows if (q, q) not in top]
            return f"no rank-1 self hit for {missing}" if missing else None

        self.rec.defer(op, table, err, check)

    # -- driving -------------------------------------------------------------

    def client(self, idx: int):
        """Cycles through the statements from its own offset; client 0
        opens each of its cycles with a knowledge-base lookup, started only
        while the previous lookup's duration still fits before the
        deadline, so no lookup is cut and the window's count of lookups
        does not depend on where the deadline falls. The order is fixed,
        so every run's window holds the same mix, and one lookup stream
        makes every lookup meet the same load. (A lookup takes about eight
        statements' time under this load, so lookups from every client
        would crowd the window: measured on a 4-core machine with one per
        client per 15 statements, a 15 s window held 21-23 statements
        instead of about 40, and still only 1-2 whole lookups.)"""
        rng = random.Random(self.ctx.seed * 1000 + idx)
        n = len(SERVE_STATEMENTS)
        start = idx * n // SERVE_CLIENTS
        order = [SERVE_STATEMENTS[(start + j) % n] for j in range(n)]
        if idx == 0:
            order.insert(0, None)

        def loop(deadline):
            last = 0.0  # the previous lookup's duration
            while True:
                for q in order:
                    t0 = time.perf_counter()
                    if t0 >= deadline:
                        return
                    if q is not None:
                        self.analyst(q)
                    elif t0 + last < deadline:
                        self.kb_lookup(rng)
                        last = time.perf_counter() - t0

        return loop

    def run(self, seconds: float) -> tuple[float, float]:
        targets = [self.client(i) for i in range(SERVE_CLIENTS)]
        return self.run_threads(targets, seconds)

    @property
    def final_checks(self) -> int:
        return 2 if self.tracer.enabled else 1

    def final_check(self) -> None:
        """The index still holds every corpus vector; in the traced run, the
        nightly refresh runs and its dispatch plan is checked."""
        from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot

        index = read_delta_snapshot(self.spark, self.path("kb_index"))
        n = index.count()
        want = len(self.base_ids)
        if n != want:
            self.rec.fail(f"kb index holds {n} rows, expected {want}")
        self.lake_stats["delta_live_files"] = len(index.inputFiles())
        if not self.tracer.enabled:
            return
        try:
            self.refresh()
        except Exception as e:  # noqa: BLE001 - a failed check is counted, not fatal
            self.rec.fail(f"refresh: {e!r}"[:300])
            return
        why = check_plan(self.plan, pq.read_table(
            os.path.join(self.data, "events.parquet"), columns=["user_id"]))
        if why:
            self.rec.fail(f"dispatch plan: {why}")

    def storage(self) -> dict:
        from mysoftware_nocnetintel_spark.sources.readers import read_delta_snapshot

        live = read_delta_snapshot(self.spark, self.path("kb_index")).select(
            "vec_id", "embedding").toArrow()
        user = parquet_bytes(live, os.path.join(self.ctx.scratch, "user.parquet"))
        return {"stored_bytes": dir_bytes(self.path("kb_index")), "user_bytes": user}


def check_plan(plan: pa.Table | None, events: pa.Table) -> str | None:
    """The dispatch plan's invariants: every user with events is planned
    exactly once, each cluster's dispatch order runs 1..n, and each
    cluster's team loads differ by at most one."""
    if plan is None:
        return "no plan"
    users = plan.column("user_id").to_pylist()
    if len(set(users)) != len(users) or set(users) != set(events.column("user_id").to_pylist()):
        return f"{len(users)} rows for {len(set(users))} users"
    by_cluster: dict[int, list] = {}
    for c, team, order in zip(plan.column("cluster").to_pylist(), plan.column("team").to_pylist(),
                              plan.column("dispatch_order").to_pylist()):
        by_cluster.setdefault(c, []).append((team, order))
    for c, rows in by_cluster.items():
        if sorted(o for _, o in rows) != list(range(1, len(rows) + 1)):
            return f"cluster {c}: dispatch order is not 1..{len(rows)}"
        loads: dict[str, int] = {}
        for team, _ in rows:
            loads[team] = loads.get(team, 0) + 1
        if max(loads.values()) - min(loads.values()) > 1:
            return f"cluster {c}: team loads {loads}"
    return None


def _md5_bucket(doc_id: int) -> str:
    return hashlib.md5(str(doc_id).encode()).hexdigest()[:2]


class Ingest(Workload):
    """One writer drains a seeded backlog of ticks in order, the
    ``Trigger.AvailableNow`` shape of ``dedup_gated_stream_append``: each
    tick gates a document batch into the Delta corpus and its MinHash index
    (``streaming.ops.dedup_gate_batch``), then upserts a telemetry CDC batch
    into the Delta events table (copy-on-write) and the Iceberg one
    (merge-on-read), and compacts both tables every ``COMPACT_EVERY``
    merges. ``INGEST_READERS`` closed-loop readers alternate an aggregate
    and a one-user point read, each over both formats' current snapshots,
    while the commits land. The traced run ends with a SimHash screen of
    the window's batches against a ``hamming_index`` of the corpus."""

    tables = ()  # the readers read the lake tables, so nothing is cached

    @property
    def final_checks(self) -> int:
        return 4 if self.tracer.enabled else 3

    def __init__(self, ctx):
        super().__init__(ctx)
        events = pq.read_table(os.path.join(self.data, "events.parquet"))
        self.base_events = events
        docs = pq.read_table(os.path.join(self.data, "documents.parquet"))
        ids = docs.column("doc_id").to_pylist()
        in_corpus = pa.array([_md5_bucket(i) < "cd" for i in ids])
        self.corpus = docs.filter(in_corpus).select(["doc_id", "text"])
        self.unseen = docs.filter(pc.invert(in_corpus)).select(["doc_id", "text"])
        self.user_events = {}
        for e, u in zip(events.column("event_id").to_pylist(), events.column("user_id").to_pylist()):
            self.user_events.setdefault(u, set()).add(e)
        self.ticks_done = self.novel_total = 0
        self.merges = 1  # since the last compaction; setup applies the first
        self.inserted = INGEST_CDC_INSERTS  # CDC inserts committed to both tables
        self.batch_docs: list[int] = []
        self._make_backlog()

    def start_window(self) -> None:
        super().start_window()
        self.window_docs = self.window_novel = 0

    def novel_share(self) -> float:
        return self.window_novel / self.window_docs if self.window_docs else 0.0

    def _cdc_batch(self, rng, first_id: int) -> pa.Table:
        """``INGEST_CDC_UPDATES`` new values for existing events and
        ``INGEST_CDC_INSERTS`` new events from ``first_id``."""
        upd = self.base_events.take(pa.array(
            rng.choice(self.base_events.num_rows, INGEST_CDC_UPDATES, replace=False)))
        fresh = make_events(rng, INGEST_CDC_UPDATES)
        upd = pa.table({
            "event_id": upd.column("event_id"),
            "ts": upd.column("ts"),
            "user_id": upd.column("user_id"),
            "event_type": fresh.column("event_type"),
            "value": fresh.column("value"),
            "props": fresh.column("props"),
        })
        ins = make_events(rng, INGEST_CDC_INSERTS, first_id=first_id,
                          t0=np.datetime64("2024-01-31", "us"), days=1)
        return pa.concat_tables([upd, ins])

    def _make_backlog(self) -> None:
        """Seeded inputs, written once as parquet: the CDC batch setup
        applies (``cdc_setup``), and the doc batch and CDC batch of every
        tick."""
        rng = np.random.default_rng(self.ctx.seed * 1000 + 7)
        self.backlog = os.path.join(self.ctx.scratch, "backlog")
        os.makedirs(self.backlog)
        corpus_ids = self.corpus.column("doc_id").to_numpy()
        corpus_text = self.corpus.column("text").to_pylist()
        long_docs = [j for j, t in enumerate(corpus_text) if len(t.split()) >= PERTURB_MIN_WORDS]
        unseen_ids = self.unseen.column("doc_id").to_pylist()
        unseen_text = self.unseen.column("text").to_pylist()
        next_event = self.base_events.num_rows
        pq.write_table(self._cdc_batch(rng, next_event), os.path.join(self.backlog, "cdc_setup.parquet"))
        next_event += INGEST_CDC_INSERTS
        pos = 0
        self.n_ticks = 0
        for t in range(INGEST_TICKS):
            if pos >= len(unseen_ids):
                break
            ids = unseen_ids[pos:pos + INGEST_UNSEEN_DOCS]
            texts = unseen_text[pos:pos + INGEST_UNSEEN_DOCS]
            pos += INGEST_UNSEEN_DOCS
            for j in rng.choice(len(corpus_ids), INGEST_REDELIVERED, replace=False):
                ids.append(int(corpus_ids[j]))
                texts.append(corpus_text[j])
            for k, j in enumerate(rng.choice(long_docs, INGEST_PERTURBED, replace=False)):
                words = corpus_text[j].split()
                words[-1] = doc_text(rng, 1)
                ids.append(PERTURBED_ID0 + t * INGEST_PERTURBED + k)
                texts.append(" ".join(words))
            self.batch_docs.append(len(ids))
            pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                     "text": pa.array(texts, pa.string())}),
                           os.path.join(self.backlog, f"docs_{t}.parquet"))
            pq.write_table(self._cdc_batch(rng, next_event),
                           os.path.join(self.backlog, f"cdc_{t}.parquet"))
            next_event += INGEST_CDC_INSERTS
            self.n_ticks += 1

    def fixtures(self, root: str) -> list:
        from mysoftware_nocnetintel_spark.operators import dedup_index
        from mysoftware_nocnetintel_spark.sources import delta, iceberg
        from mysoftware_nocnetintel_spark.sources.registry import load_table

        corpus_file = os.path.join(self.ctx.scratch, "corpus.parquet")
        pq.write_table(self.corpus, corpus_file)

        def together(*fns):
            with ThreadPoolExecutor(len(fns)) as ex:
                list(ex.map(lambda f: f(), fns))

        def events():
            """Write the events table in both formats, then merge the setup
            CDC batch into both while the readers warm up."""
            ev = load_table(self.spark, self.data, "events")
            together(lambda: delta.write_delta_append(ev, self.path("events_delta")),
                     lambda: iceberg.write_iceberg_append(ev, self.path("events_iceberg")))
            cdc = os.path.join(self.backlog, "cdc_setup.parquet")
            together(lambda: delta.merge_delta_rows(self.spark, self.path("events_delta"),
                                                    self.spark.read.parquet(cdc), on=["event_id"]),
                     lambda: iceberg.merge_iceberg_rows(self.spark, self.path("events_iceberg"),
                                                        self.spark.read.parquet(cdc), on=["event_id"]),
                     self.warm_reads)

        return [
            ("dedup_index.build_s", lambda: dedup_index.build_minhash_index(
                self.spark.read.parquet(corpus_file), os.path.join(root, "minhash"))),
            ("events_s", events),
            ("corpus_s", lambda: delta.write_delta_append(
                self.spark.read.parquet(corpus_file), os.path.join(root, "corpus"))),
        ]

    # -- writer --------------------------------------------------------------

    def _last_commit_rows(self, table: str) -> int:
        """Rows added by the newest commit of a Delta table, from its log."""
        import json

        log = os.path.join(self.path(table), "_delta_log")
        newest = max(f for f in os.listdir(log) if f.endswith(".json") and f[:20].isdigit())
        rows = 0
        with open(os.path.join(log, newest), encoding="utf-8") as f:
            for line in f:
                add = json.loads(line).get("add")
                if add and add.get("stats"):
                    rows += json.loads(add["stats"]).get("numRecords", 0)
        return rows

    def _corpus_version(self) -> int:
        log = os.path.join(self.path("corpus"), "_delta_log")
        return max(int(f[:20]) for f in os.listdir(log) if f.endswith(".json") and f[:20].isdigit())

    def sample_layout(self) -> None:
        """Live Delta data files and live Iceberg delete files of the events
        tables now; the run keeps the largest of each."""
        from mysoftware_nocnetintel_spark.sources import readers

        st = self.lake_stats
        st["delta_live_files"] = max(st["delta_live_files"], len(
            readers.read_delta_snapshot(self.spark, self.path("events_delta")).inputFiles()))
        st["iceberg_live_delete_files"] = max(st["iceberg_live_delete_files"],
                                              iceberg_live_delete_files(self.path("events_iceberg")))

    def tick(self) -> None:
        from mysoftware_nocnetintel_spark.sources import delta, iceberg
        from mysoftware_nocnetintel_spark.streaming import ops

        t = self.ticks_done
        docs_file = os.path.join(self.backlog, f"docs_{t}.parquet")
        cdc_file = os.path.join(self.backlog, f"cdc_{t}.parquet")

        v0 = self._corpus_version()
        op, _ = self.write_op("commit", "gate", lambda: ops.dedup_gate_batch(
            self.spark.read.parquet(docs_file), t, self.path("corpus"),
            self.path("minhash"), "perfbench"), batch_bytes=os.path.getsize(docs_file))
        novel = 0
        if op.ok and self._corpus_version() > v0:
            novel = self._last_commit_rows("corpus")
        self.novel_total += novel
        self.window_rows += novel
        self.window_docs += self.batch_docs[t]
        self.window_novel += novel

        for fmt, merge in (("delta", delta.merge_delta_rows),
                           ("iceberg", iceberg.merge_iceberg_rows)):
            self.write_op("commit", f"{fmt}_merge", lambda: merge(
                self.spark, self.path(f"events_{fmt}"),
                self.spark.read.parquet(cdc_file), on=["event_id"]),
                rows=INGEST_CDC_INSERTS + INGEST_CDC_UPDATES,
                batch_bytes=os.path.getsize(cdc_file))
        self.inserted += INGEST_CDC_INSERTS
        self.ticks_done += 1
        self.merges += 1
        if self.merges < COMPACT_EVERY:
            return

        def compact():
            delta.optimize_delta_table(self.spark, self.path("events_delta"))
            iceberg.rewrite_iceberg_table(self.spark, self.path("events_iceberg"))

        self.sample_layout()
        self.write_op("maintenance", "compact", compact)
        self.merges = 0

    # -- readers -------------------------------------------------------------

    def read(self, point_user: int | None) -> None:
        """One reader operation: the same aggregate, or the same point read
        of ``point_user``, over the current Delta and then the current
        Iceberg snapshot; its latency is the pair's."""
        from pyspark.sql import functions as F

        from mysoftware_nocnetintel_spark.sources import readers

        kind, name = ("query", "agg") if point_user is None else ("lookup", "point")
        inserted_max = self.inserted + INGEST_CDC_INSERTS  # a merge may be landing
        t0 = time.perf_counter()
        tables, errs = [], []
        for fmt in FORMATS:
            path = self.path(f"events_{fmt}")
            reader = readers.read_delta_snapshot if fmt == "delta" else readers.read_iceberg_snapshot
            if point_user is None:
                build = lambda: (reader(self.spark, path).groupBy("event_type")  # noqa: E731
                                 .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")))
            else:
                build = lambda: (reader(self.spark, path, scan_filter=("user_id", "=", point_user))  # noqa: E731
                                 .where(F.col("user_id") == point_user))
            part, table, err = self.statement(kind, f"{name}_{fmt}", build)
            part.kind = "part"
            with self.rec.lock:
                self.rec.parts.append(part)
            tables.append(table)
            errs.append(err)
        err = next((e for e in errs if e), None)
        op = Op(kind, name, t0, time.perf_counter() - t0, err is None)
        lo = self.base_events.num_rows
        u = point_user

        def check(op, tables):
            for fmt, table in zip(FORMATS, tables):
                if u is None:
                    n = sum(table.column("n").to_pylist())
                    if table.num_rows != 5 or not lo <= n <= lo + inserted_max:
                        return f"{fmt}: {table.num_rows} types, {n} rows"
                else:
                    got = set(table.column("event_id").to_pylist())
                    if set(table.column("user_id").to_pylist()) - {u} or \
                            not self.user_events.get(u, set()) <= got:
                        return f"{fmt}: point read for user {u} lost rows"
            return None

        self.rec.defer(op, None if err else tables, err, check)

    def reader(self, idx: int):
        rng = random.Random(self.ctx.seed * 1000 + idx)
        users = sorted(self.user_events)

        def loop(deadline):
            step = idx
            # read until the deadline, and for as long as commits still land
            while time.perf_counter() < deadline or not self.writer_done.is_set():
                self.read(rng.choice(users) if step % 2 else None)
                step += 1

        return loop

    def writer(self):
        """Drains the backlog in order, starting a tick only while the
        previous tick's duration still fits before the deadline, so the
        amount of writer work in a window does not depend on where the
        deadline cuts a tick."""
        def loop(deadline):
            try:
                last = 0.0
                while time.perf_counter() + last < deadline and self.ticks_done < self.n_ticks:
                    t0 = time.perf_counter()
                    self.tick()
                    last = time.perf_counter() - t0
                    self.writer_s += last
            finally:
                self.writer_end = time.perf_counter()
                self.writer_done.set()

        return loop

    def warm_reads(self) -> None:
        """The readers' four statements once each, on the tables as they
        stand. The writer is not warmed: its first tick, in the window, pays
        its first-run costs in every run alike."""
        self.read(None)
        self.read(0)

    def run(self, seconds: float) -> tuple[float, float]:
        """The window lasts until the deadline or until the writer's last
        tick has landed, whichever is later."""
        self.writer_done = threading.Event()
        targets = [self.writer()] + [self.reader(i) for i in range(INGEST_READERS)]
        t0, deadline = self.run_threads(targets, seconds)
        return t0, max(deadline, self.writer_end)

    # -- end-of-run checks ---------------------------------------------------

    def cdc_files(self) -> list[str]:
        return [os.path.join(self.backlog, "cdc_setup.parquet")] + [
            os.path.join(self.backlog, f"cdc_{t}.parquet") for t in range(self.ticks_done)]

    def expected_events(self) -> pa.Table:
        import duckdb

        con = duckdb.connect()
        try:
            con.register("base", self.base_events)
            con.execute("CREATE TABLE ev AS SELECT * FROM base")
            for f in self.cdc_files():
                con.execute(f"DELETE FROM ev WHERE event_id IN "
                            f"(SELECT event_id FROM read_parquet('{f}'))")
                con.execute(f"INSERT INTO ev SELECT * FROM read_parquet('{f}')")
            out = con.sql("SELECT * FROM ev").arrow()
            return out.read_all() if hasattr(out, "read_all") else out
        finally:
            con.close()

    def check_corpus(self, ids: list[int]) -> str | None:
        """The corpus against the gate's rules, decided without the gate:
        exact word-shingle Jaccard of every batch doc against the index as
        it stood (the base corpus and the docs earlier ticks admitted) and
        against the lower ids of its own batch. A doc whose id is indexed
        already, or whose best Jaccard is at least ``SURE_DUP``, must be
        rejected; one at most ``SURE_NOVEL`` must be admitted; between the
        two the MinHash estimate may go either way. No id may repeat, and
        nothing but base rows and batch docs may appear."""
        if len(set(ids)) != len(ids):
            return f"{len(ids) - len(set(ids))} repeated ids"
        present = set(ids)
        index: dict[int, frozenset] = {}
        postings: dict[str, list[int]] = {}

        def register(doc, sh):
            index[doc] = sh
            for x in sh:
                postings.setdefault(x, []).append(doc)

        for doc, text in zip(self.corpus.column("doc_id").to_pylist(),
                             self.corpus.column("text").to_pylist()):
            register(doc, shingles(text, SHINGLE_K))
        if not set(index) <= present:
            return "base corpus rows are missing"
        expected = set(index)
        wrong: list[str] = []
        for t in range(self.ticks_done):
            batch = pq.read_table(os.path.join(self.backlog, f"docs_{t}.parquet"))
            docs = sorted(zip(batch.column("doc_id").to_pylist(),
                              [shingles(x, SHINGLE_K) for x in batch.column("text").to_pylist()]))
            admitted = []
            for i, (doc, sh) in enumerate(docs):
                expected.add(doc)
                if doc in index:
                    best = 1.0
                else:
                    near = {d for x in sh for d in postings.get(x, ())}
                    best = max([jaccard(sh, index[d]) for d in near] +
                               [jaccard(sh, other) for _, other in docs[:i]] + [0.0])
                if best >= SURE_DUP and doc in present and doc not in index:
                    wrong.append(f"duplicate {doc} admitted (tick {t}, J={best:.3f})")
                elif best <= SURE_NOVEL and doc not in present:
                    wrong.append(f"novel {doc} rejected (tick {t}, J={best:.3f})")
                if doc in present and doc not in index:
                    admitted.append((doc, sh))
            for doc, sh in admitted:
                register(doc, sh)
        if present - expected:
            return f"{len(present - expected)} rows from outside the batches"
        return "; ".join(wrong[:3]) or None

    def screen(self) -> str | None:
        """The traced run's tail: build a SimHash ``hamming_index`` of the
        base corpus and screen each batch the window gated against it,
        timing the build and each screen. Every re-delivered doc must be
        flagged against the index at hamming 0 (its id is indexed), and
        nothing beyond the screen's distance."""
        from mysoftware_nocnetintel_spark.operators import hamming_index
        from mysoftware_nocnetintel_spark.operators.dedup import simhash_signatures

        index = self.path("simhash")
        t0 = time.perf_counter()
        hamming_index.build_hamming_index(simhash_signatures(
            self.spark.createDataFrame(self.corpus), "doc_id", "text"), index, SIMHASH_FAMILY)
        self.timings["hamming_index.build_s"] = time.perf_counter() - t0
        corpus = set(self.corpus.column("doc_id").to_pylist())
        gates = []
        for t in range(self.ticks_done):
            docs_file = os.path.join(self.backlog, f"docs_{t}.parquet")
            t0 = time.perf_counter()
            v = hamming_index.dedup_against_hamming_index(
                self.spark, simhash_signatures(self.spark.read.parquet(docs_file), "doc_id", "text"),
                index, SIMHASH_FAMILY, max_hamming=SIMHASH_MAX_HAMMING).toArrow()
            gates.append(time.perf_counter() - t0)
            batch = pq.read_table(docs_file, columns=["doc_id"]).column("doc_id").to_pylist()
            self_hits = {d for d, o, h, s in zip(*(v.column(c).to_pylist() for c in
                                                   ("doc", "dup_of", "hamming", "source")))
                         if d == o and h == 0 and s == "index"}
            missed = sorted(set(batch) & corpus - self_hits)
            if missed:
                return f"tick {t}: re-deliveries {missed} not flagged"
            if v.num_rows and max(v.column("hamming").to_pylist()) > SIMHASH_MAX_HAMMING:
                return f"tick {t}: a flag beyond hamming {SIMHASH_MAX_HAMMING}"
        self.timings["hamming_index.gate_s"] = float(np.median(gates)) if gates else 0.0
        return None

    def final_check(self) -> None:
        from mysoftware_nocnetintel_spark.sources import readers

        want = self.expected_events()
        self.final_events = want
        for fmt, reader in (("delta", readers.read_delta_snapshot),
                            ("iceberg", readers.read_iceberg_snapshot)):
            got = reader(self.spark, self.path(f"events_{fmt}")).toArrow()
            if not same_rows(got, want, "event_id"):
                self.rec.fail(f"{fmt} events differ from DuckDB applying the same CDC "
                              f"({got.num_rows} vs {want.num_rows} rows)")
        self.sample_layout()
        corpus = readers.read_delta_snapshot(self.spark, self.path("corpus")).toArrow()
        ids = corpus.column("doc_id").to_pylist()
        why = self.check_corpus(ids)
        if why is None and len(ids) != self.corpus.num_rows + self.novel_total:
            why = f"{len(ids)} rows, but the gate's commits added {self.novel_total}"
        if why:
            self.rec.fail(f"corpus: {why}")
        self.final_corpus = corpus
        if self.tracer.enabled:
            try:
                why = self.screen()
            except Exception as e:  # noqa: BLE001 - a failed check is counted, not fatal
                why = repr(e)[:300]
            if why:
                self.rec.fail(f"simhash screen: {why}")

    def storage(self) -> dict:
        scratch = os.path.join(self.ctx.scratch, "user.parquet")
        events = parquet_bytes(self.final_events, scratch)
        corpus = parquet_bytes(self.final_corpus.select(["doc_id", "text"]), scratch)
        return {"stored_bytes": dir_bytes(self.fixture_dir),
                "user_bytes": 2 * events + corpus}


def iceberg_live_delete_files(path: str) -> int:
    """Delete files live in the current snapshot of the Iceberg table at
    ``path``: entries not marked deleted in its delete manifests."""
    import glob
    import json

    from mysoftware_nocnetintel_spark.sources.avro_lite import read_avro_file

    metas = glob.glob(os.path.join(path, "metadata", "v*.metadata.json"))
    newest = max(metas, key=lambda p: int(os.path.basename(p)[1:].split(".")[0]))
    with open(newest, encoding="utf-8") as f:
        meta = json.load(f)
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    _, manifests = read_avro_file(snap["manifest-list"])
    n = 0
    for m in manifests:
        if m.get("content", 0) == 1:
            _, entries = read_avro_file(m["manifest_path"])
            n += sum(1 for e in entries if e["status"] != 2)
    return n


WORKLOADS = {"serve": Serve, "ingest": Ingest}
