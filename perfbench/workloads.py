"""The three workloads. Each drives ``bio2bel_spark`` only through its public
functions, checks every answer against the generator's ground truth, and,
when tracing, wraps each call into a layer in a span.

A workload is set up (inputs generated, catalog pre-populated) once per
setup repetition, warmed up once, then measured by ``run(seconds)``: a
closed loop of operations that returns the operation latencies and the
work done.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.parse
import urllib.request

import gen
from tracing import Tracer, percentile


SCHEMAS = {
    "genes": "ncbigene_id STRING, symbol STRING",
    "pathway": "pathway_id STRING, prefix STRING, identifier STRING, name STRING",
    "protein": "protein_id STRING, entrez_id STRING, hgnc_id STRING, hgnc_symbol STRING",
    "membership": "pathway_id STRING, protein_id STRING",
    "triples": "s STRING, p STRING, o STRING",
    "actions": "resource STRING, action STRING, created STRING",
    "docs": "doc_id BIGINT, text STRING",
}


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the files under ``path`` ending in ``suffix``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith("."):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class Run:
    """Outcome of one measured phase."""

    def __init__(self):
        self.latencies: dict[str, list[float]] = {}
        self.work = 0.0          # units of work done (edges, requests, docs)
        self.busy = 0.0          # seconds the work took
        self.attempted = 0
        self.failures: list[str] = []
        self.counters: dict[str, float] = {}
        self._lock = threading.Lock()  # client threads share one Run

    def op(self, kind: str, seconds: float) -> None:
        with self._lock:
            self.latencies.setdefault(kind, []).append(seconds)

    def check(self, ok: bool, what: str) -> bool:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failures.append(what[:300])
        return ok

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value


class TracedCatalog:
    """Catalog stand-in that spans the public calls a Dataset or the admin
    server makes into it; everything else passes straight through."""

    def __init__(self, inner, tracer: Tracer, run: Run, on_first=None):
        self._inner, self._tracer, self._run = inner, tracer, run
        self._on_first = on_first

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def table_exists(self, name):
        if self._on_first is not None:
            self._on_first()
        with self._tracer.span("catalog.table_exists"):
            return self._inner.table_exists(name)

    def read_table(self, name):
        with self._tracer.span("catalog.read_table"):
            return self._inner.read_table(name)

    def store_action(self, resource, action):
        with self._tracer.span("catalog.store_action"):
            return self._inner.store_action(resource, action)

    def write_table(self, df, name, mode="overwrite", partition_by=None):
        path = self._inner.table_path(name)
        before = tree_bytes(path, ".parquet") if mode == "append" else (0, 0)
        with self._tracer.span("catalog.write_table"):
            self._inner.write_table(df, name, mode=mode, partition_by=partition_by)
        after = tree_bytes(path, ".parquet")
        self._run.add("catalog.write_table.output_bytes", after[0] - before[0])
        self._run.add("catalog.write_table.files", after[1] - before[1])


class Workload:
    name = ""
    #: the operation whose median latency is ``latency_ms.p50``
    primary = ""

    def __init__(self, seed: int, work_dir: str, tracer: Tracer):
        self.seed, self.work_dir, self.tracer = seed, work_dir, tracer
        self.spark = None

    def rep_dir(self, rep: int) -> str:
        return os.path.join(self.work_dir, f"rep{rep}")

    def setup(self, spark, rep: int) -> None:
        raise NotImplementedError

    def truth(self) -> None:
        """Compute any ground truth the generator did not record inline."""

    def warmup(self) -> "Run":
        """One unmeasured round of the workload's operations, checked."""
        raise NotImplementedError

    def run(self, seconds: float) -> Run:
        raise NotImplementedError

    def start_tracing(self) -> None:
        """Install the spans that need hooks (called before a traced run)."""

    def layer_metrics(self, run: Run, spans: dict) -> dict:
        return {}

    def teardown(self) -> None:
        pass

    def headline(self, run: Run) -> dict:
        """Workload-specific end-to-end figures for the human-readable table:
        name -> (value, unit, samples)."""
        return {}

    def summary(self, run: Run) -> tuple[float, float, int]:
        """(throughput per second, latency in seconds, latency samples) that
        the run reports as ``throughput_per_s`` and ``latency_ms.p50``."""
        lat = run.latencies[self.primary]
        return run.work / run.busy, percentile(lat, 0.5)[0], len(lat)


def _mean_self(spans: dict, name: str) -> float:
    s = spans.get(name)
    return s["self_s"] / s["count"] if s else 0.0


def _per_call(spans: dict, name: str, measure: str) -> float:
    s = spans.get(name)
    return s[measure] / s["count"] if s else 0.0


def _repeat(seconds: float, step, at_least: int = 1) -> None:
    """Run ``step`` ``at_least`` times, then again while another step as
    long as the last one still ends within ``seconds``."""
    t0 = time.perf_counter()
    for n in itertools.count(1):
        s = time.perf_counter()
        step()
        now = time.perf_counter()
        if n >= at_least and now - t0 + (now - s) > seconds:
            return


# ---------------------------------------------------------------- kg_populate


class _Sources:
    """One generated instance of the three sources and their catalog."""

    inp = warehouse = ds = catalog = None
    cycle_no = 0


class KgPopulate(Workload):
    """Closed loop, one client: each cycle populates three sources, upserts a
    delta, compacts, exports triples and summarizes."""

    name = "kg_populate"
    primary = "cycle"
    SIZES = dict(n_intact=12000, n_biogrid=12000, n_tf=6000,
                 n_genes=5000, delta_rows=1000)
    COMPACT = ("biogrid_genes",)

    def setup(self, spark, rep):
        self.spark = spark
        self.st = self._build(self.rep_dir(rep), self.SIZES)

    def _build(self, d: str, sizes: dict) -> "_Sources":
        """Generate inputs under ``d`` and create the keyed genes table."""
        from bio2bel_spark.ingest import read_tsv
        from bio2bel_spark.sources.datasets import (
            BioGRIDDataset, IntactDataset, TFRegulonsDataset)

        st = _Sources()
        st.inp = gen.make_populate(self.seed, os.path.join(d, "inputs"), **sizes)
        st.warehouse = os.path.join(d, "warehouse")
        classes = {"intact": IntactDataset, "biogrid": BioGRIDDataset,
                   "tfregulons": TFRegulonsDataset}
        st.ds = {src: cls(self.spark, st.warehouse, input_paths=st.inp.paths[src])
                 for src, cls in classes.items()}
        genes = read_tsv(self.spark, st.inp.upsert_base, SCHEMAS["genes"])
        st.ds["biogrid"].upsert("genes", genes, key="ncbigene_id")
        st.catalog = st.ds["biogrid"].catalog
        return st

    def start_tracing(self):
        self._traced_run = Run()
        for ds in self.st.ds.values():
            ds.catalog = TracedCatalog(ds.catalog, self.tracer, self._traced_run)

    def warmup(self):
        # one cycle on a fifth-size instance: the same plans, so class
        # loading and code generation are done before the measured cycles
        run = Run()
        self._cycle(run, self._build(os.path.join(self.work_dir, "warm"),
                                     {k: v // 5 for k, v in self.SIZES.items()}))
        return run

    def run(self, seconds):
        run = getattr(self, "_traced_run", None) if self.tracer.enabled else None
        run = run or Run()
        _repeat(seconds, lambda: self._cycle(run, self.st))
        return run

    def _cycle(self, run: Run, st: "_Sources") -> None:
        from bio2bel_spark.ingest import read_tsv
        from bio2bel_spark.io.automate import ensure_triples_tsv

        tr, spark = self.tracer, self.spark
        delta_path, delta_rows, want_added = st.inp.delta(st.cycle_no)
        st.cycle_no += 1
        if tr.enabled:
            self._plan_sources(st.inp.paths)
        t0 = time.perf_counter()
        with tr.span("cycle"):
            for ds in st.ds.values():
                with tr.span("dataset.populate"):
                    ds.populate(force=True)
            with tr.span("dataset.upsert"):
                added = st.ds["biogrid"].upsert(
                    "genes", read_tsv(spark, delta_path, SCHEMAS["genes"]),
                    key="ncbigene_id")
            compacted = {}
            for table in self.COMPACT:
                size = tree_bytes(st.catalog.table_path(table), ".parquet")
                with tr.span("catalog.compact_table"):
                    n_files = st.catalog.compact_table(table)
                compacted[table] = (size, n_files)
            exports = {}
            for src in st.ds:
                with tr.span("io.automate.ensure_triples_tsv"):
                    exports[src] = ensure_triples_tsv(
                        src, spark, st.warehouse, st.inp.paths[src])
            counts = {}
            for src, ds in st.ds.items():
                with tr.span("dataset.summarize"):
                    counts[src] = ds.summarize()
        elapsed = time.perf_counter() - t0

        committed = added
        for src, ds in st.ds.items():
            want = {"edges": st.inp.expected_edges[src]}
            if "rejects" in ds.tables:
                want["rejects"] = st.inp.expected_rejects[src]
            run.check(counts[src] == want,
                      f"{src}.summarize: got {counts[src]}, want {want}")
            committed += counts[src]["edges"]
            with open(exports[src], "rb") as fh:
                lines = sum(1 for _ in fh)
            run.check(lines == want["edges"],
                      f"{src} triples export: {lines} lines, want {want['edges']}")
            run.add("io.automate.ensure_triples_tsv.output_bytes", os.path.getsize(exports[src]))
            os.remove(exports[src])  # the next cycle exports afresh
        run.check(added == want_added, f"upsert added {added}, want {want_added}")
        run.add("dataset.upsert.added", added)
        run.add("dataset.upsert.attempted", delta_rows)
        n_genes = st.catalog.read_table("biogrid_genes").count()
        run.check(n_genes == len(st.inp.upsert_keys),
                  f"genes table holds {n_genes} rows, want {len(st.inp.upsert_keys)}")
        for table, ((size, files), n_files) in compacted.items():
            run.check(1 <= n_files <= files, f"compact {table}: {files} -> {n_files} files")
            if n_files < files:
                run.add("catalog.compact_table.bytes_rewritten", size)
        run.op("cycle", elapsed)
        run.work += committed
        run.busy += elapsed

    def _plan_sources(self, paths: dict) -> None:
        """Spark-driver time to build each source's plan, through the source
        modules' own entry points on the same inputs the Datasets read."""
        from bio2bel_spark.ingest import read_tsv
        from bio2bel_spark.sources import biogrid, intact, tfregulons

        spark, tr = self.spark, self.tracer

        def raw(path):
            return spark.read.option("header", True).option("sep", "\t").csv(path)

        with tr.span("sources.intact.plan"):
            intact.process(spark, raw(paths["intact"]["raw"]), uniprot_ncbigene=read_tsv(
                spark, paths["intact"]["uniprot_ncbigene"], "uniprot_id STRING, ncbigene_id STRING"))
        with tr.span("sources.biogrid.plan"):
            biogrid.process(spark, raw(paths["biogrid"]["raw"]), read_tsv(
                spark, paths["biogrid"]["biogrid_map"], "biogrid_id STRING, ncbigene_id STRING"))
        with tr.span("sources.tfregulons.plan"):
            tfregulons.to_edges(tfregulons.prepare(
                read_tsv(spark, paths["tfregulons"]["raw"], "tf_hgnc_symbol STRING, "
                         "target_hgnc_symbol STRING, effect INT, score STRING, pmids STRING"),
                read_tsv(spark, paths["tfregulons"]["hgnc_map"], "hgnc_symbol STRING, hgnc_id STRING")))

    def stored_ratio(self) -> float:
        stored = sum(tree_bytes(self.st.catalog.table_path(t), ".parquet")[0]
                     for t in self.st.catalog.list_tables() if not t.startswith("_"))
        return stored / self.st.inp.input_bytes

    def headline(self, run):
        return {
            "populate.edges_per_s": (run.work / run.busy, "1/s", len(run.latencies["cycle"])),
            "populate.stored_bytes_per_input_byte": (self.stored_ratio(), "ratio", 1),
        }

    def layer_metrics(self, run, spans):
        n_cycles = len(run.latencies.get("cycle", [])) or 1
        out = {f"{n}.self_s": _mean_self(spans, n) for n in (
            "catalog.write_table", "catalog.store_action", "catalog.compact_table",
            "dataset.populate", "dataset.upsert", "dataset.summarize",
            "io.automate.ensure_triples_tsv")}
        c = run.counters
        out["catalog.write_table.output_bytes"] = c.get("catalog.write_table.output_bytes", 0) / n_cycles
        out["catalog.write_table.files"] = c.get("catalog.write_table.files", 0) / n_cycles
        out["catalog.compact_table.bytes_rewritten"] = c.get(
            "catalog.compact_table.bytes_rewritten", 0) / n_cycles
        out["dataset.upsert.added_per_attempted"] = (
            c.get("dataset.upsert.added", 0) / max(1, c.get("dataset.upsert.attempted", 0)))
        out["io.automate.ensure_triples_tsv.output_bytes"] = c.get(
            "io.automate.ensure_triples_tsv.output_bytes", 0) / n_cycles
        for src in self.st.ds:
            out[f"sources.{src}.plan_s"] = _mean_self(spans, f"sources.{src}.plan")
        out.update(self._rejects_ratios())
        return out

    def _rejects_ratios(self) -> dict:
        from bio2bel_spark.ingest import read_tsv
        from bio2bel_spark.sources import tfregulons

        paths, raw = self.st.inp.paths["tfregulons"], self.st.inp.raw_rows
        kept = tfregulons.prepare(
            read_tsv(self.spark, paths["raw"], "tf_hgnc_symbol STRING, "
                     "target_hgnc_symbol STRING, effect INT, score STRING, pmids STRING"),
            read_tsv(self.spark, paths["hgnc_map"], "hgnc_symbol STRING, hgnc_id STRING"),
        ).count()
        out = {"sources.tfregulons.rejects_ratio": 1 - kept / raw["tfregulons"]}
        for src in ("intact", "biogrid"):
            rejects = self.st.ds[src].count_table("rejects")
            out[f"sources.{src}.rejects_ratio"] = rejects / raw[src]
        return out


# -------------------------------------------------------------- catalog_serve


def _serve_dataset_class():
    from bio2bel_spark.dataset import Dataset
    from bio2bel_spark.ingest import read_tsv

    class ServeCatalog(Dataset):
        """Pathway catalog populated from the generated TSVs."""

        module_name = "perfbench_compath"
        tables = {"pathway": None, "protein": None, "membership": None, "triples": None}

        def __init__(self, spark, warehouse, paths):
            super().__init__(spark, warehouse)
            self.paths = paths

        def _populate_tables(self, **kwargs):
            return {t: read_tsv(self.spark, self.paths[t], SCHEMAS[t]) for t in self.tables}

    return ServeCatalog


class _Slot:
    """A client's in-flight request, as its admin server sees it."""

    span = None
    server_span = None


class CatalogServe(Workload):
    """Closed loop, two client threads against a pre-populated catalog."""

    name = "catalog_serve"
    SIZES = dict(n_pathways=15000, n_proteins=2000, mean_members=4)
    CLIENTS = 2
    STREAM = 4000

    def setup(self, spark, rep):
        from pyspark.sql import functions as F

        from bio2bel_spark.catalog import ACTIONS_TABLE, Catalog
        from bio2bel_spark.ingest import read_tsv

        self.spark = spark
        d = self.rep_dir(rep)
        self.inp = gen.make_serve(self.seed, os.path.join(d, "inputs"), n_clients=self.CLIENTS,
                                  stream_len=self.STREAM, **self.SIZES)
        warehouse = os.path.join(d, "warehouse")
        self.catalog = Catalog(spark, warehouse)
        log = read_tsv(spark, self.inp.paths["actions"], SCHEMAS["actions"])
        self.catalog.write_table(log.withColumn("created", F.col("created").cast("timestamp")),
                                 ACTIONS_TABLE)
        ds = _serve_dataset_class()(spark, warehouse, self.inp.paths)
        ds.populate(force=True)
        self.table = {t: ds.table_name(t) for t in ds.tables}
        self.latest = dict(self.inp.latest_action, **{ds.module_name: "populate"})
        self._start_servers(traced=False)
        self.cursor = [0] * (self.CLIENTS + 1)

    def _start_servers(self, traced: bool, run: Run = None):
        from bio2bel_spark.admin import serve_catalog

        self.teardown()
        self.slots = [_Slot() for _ in range(self.CLIENTS + 1)]
        self.servers = []
        for slot in self.slots:
            cat = self.catalog
            if traced:
                def opened(slot=slot):
                    slot.server_span = self.tracer.start("admin.request", parent=slot.span)
                cat = TracedCatalog(cat, self.tracer, run, on_first=opened)
            self.servers.append(serve_catalog(cat))

    def start_tracing(self):
        self._start_servers(traced=True, run=Run())

    def teardown(self):
        for srv in getattr(self, "servers", []):
            srv.shutdown()
            srv.server_close()
        self.servers = []

    def warmup(self):
        run = Run()
        for req in gen.warmup_requests() * 2:
            self._request(self.CLIENTS, run, req)
        return run

    def run(self, seconds):
        run = Run()
        t0 = time.perf_counter()

        def client(c):
            # whole blocks of ten requests, so each client's mix is exact;
            # two at least, so every kind has a median of several samples
            def block():
                for _ in range(gen.BLOCK):
                    self._request(c, run)
            _repeat(seconds, block, at_least=2)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        run.busy = time.perf_counter() - t0
        run.work = sum(len(v) for v in run.latencies.values())
        return run

    def _request(self, c: int, run: Run, req=None) -> None:
        if req is None:
            req = self.inp.streams[c][self.cursor[c] % self.STREAM]
        self.cursor[c] += 1
        kind, tr = req[0], self.tracer
        sp = tr.start(f"request.{kind}", rid=f"c{c}-{self.cursor[c]}")
        self.slots[c].span = sp
        t0 = time.perf_counter()
        try:
            got = getattr(self, f"_{kind}")(c, req, run)
            error = None
        except Exception as exc:  # noqa: BLE001 — a failed request is counted
            got, error = None, f"{kind} {req[1:]!r} raised {type(exc).__name__}: {exc}"
        elapsed = time.perf_counter() - t0
        tr.finish(sp)
        run.op(self._cost_class(req), elapsed)
        if error is not None:
            run.check(False, error)
        else:
            self._check(req, got, run)

    # --- request kinds; each returns what the check compares

    def _lookup(self, c, req, run):
        where = f"pathway_id = 'pw{req[1]}'"
        if self.tracer.enabled:
            from bio2bel_spark.admin import parse_where

            with self.tracer.span("admin.parse_where"):
                parse_where(where, ["pathway_id", "protein_id"])
        port = self.servers[c].server_address[1]
        url = (f"http://127.0.0.1:{port}/table/{self.table['membership']}?limit=50&where="
               + urllib.parse.quote(where))
        try:
            with urllib.request.urlopen(url, timeout=60) as resp:
                body = json.load(resp)
        finally:
            self.tracer.finish(self.slots[c].server_span)
            self.slots[c].server_span = None
        rows = body["rows"]
        run.add("lookup.rows", len(rows))
        return sorted(int(r["protein_id"][1:]) for r in rows)

    def _enrich(self, c, req, run):
        from bio2bel_spark.operators.pathways import PathwayStore

        tr = self.tracer
        store = PathwayStore(*(self._read(t) for t in ("pathway", "protein", "membership")))
        with tr.span("pathways.query_symbols.plan"):
            df = store.query_symbols(req[1])
        with tr.span("pathways.query_symbols.exec"):
            rows = df.collect()
        with tr.span("pathways.search_genes"):
            genes = store.search_genes(req[2], limit=20).collect()
        enrich = {r["pathway_id"]: (r["mapped_proteins"], r["pathway_size"], list(r["gene_set"]))
                  for r in rows}
        return enrich, [g["hgnc_symbol"] for g in genes]

    def _sparql(self, c, req, run):
        from bio2bel_spark.sparql import sparql_select

        tr = self.tracer
        triples = self._read("triples")
        with tr.span("sparql.sparql_select.plan"):
            df = sparql_select(triples, gen.sparql_text(req[1], req[2]),
                               prefixes={"ex": gen.EX})
        with tr.span("sparql.sparql_select.exec"):
            rows = df.collect()
        if req[1] == "group":
            return {r["p"]: int(r["n"]) for r in rows}
        return sorted(r[0] for r in rows)

    def _read(self, table: str):
        with self.tracer.span("catalog.read_table"):
            return self.catalog.read_table(self.table[table])

    def _actions(self, c, req, run):
        with self.tracer.span("catalog.latest_actions"):
            rows = self.catalog.latest_actions().collect()
        return rows

    def _check(self, req, got, run):
        kind = req[0]
        if kind == "actions":
            latest = {r["resource"]: r["action"] for r in got}
            run.check(len(got) == len(latest) and latest == self.latest,
                      f"latest_actions: got {len(got)} rows, mismatch with expected")
            return
        want = self.inp.expected(req)
        if kind == "lookup":
            ok = len(got) == min(50, len(want)) and set(got) <= set(want) \
                and len(set(got)) == len(got)
            run.check(ok, f"lookup pw{req[1]}: got {got[:5]}..., want {want[:5]}...")
        elif kind == "enrich":
            (enrich, genes), (want_enrich, want_genes) = got, want
            ok = enrich == want_enrich and len(genes) == min(20, len(want_genes)) \
                and set(genes) <= set(want_genes)
            run.check(ok, f"enrich {req[1][:3]}.. / {req[2]}: mismatch")
        else:
            run.check(got == want, f"sparql {req[1]} pw{req[2]}: got {str(got)[:120]}, "
                                   f"want {str(want)[:120]}")

    #: share of each cost class in the request mix: the bounded path query
    #: costs about ten times the other SPARQL shapes, so it has its own median
    CLASS_MIX = {"lookup": 0.4, "enrich": 0.3, "sparql.path": 0.1, "sparql.other": 0.1,
                 "actions": 0.1}

    @staticmethod
    def _cost_class(req) -> str:
        if req[0] == "sparql":
            return "sparql.path" if req[1] == "path" else "sparql.other"
        return req[0]

    def summary(self, run):
        """A run of several seconds holds a few dozen requests whose mean
        (and so the completed-per-second count) swings with each slow
        outlier; this reports the mix-weighted median request latency
        instead, and the closed-loop rate it implies for the fixed client
        count."""
        lat = sum(share * percentile(run.latencies[cls], 0.5)[0]
                  for cls, share in self.CLASS_MIX.items())
        return self.CLIENTS / lat, lat, int(run.work)

    def headline(self, run):
        out = {"serve.requests_per_s": (run.work / run.busy, "1/s", int(run.work))}
        for kind in ("lookup", "enrich", "sparql"):
            lat = [x for cls, v in run.latencies.items() if cls.startswith(kind) for x in v]
            for q in (0.5, 0.9):
                v, n, _ = percentile(lat, q)
                out[f"serve.{kind}_ms.p{int(q * 100)}"] = (
                    None if v is None else v * 1e3, "ms", n)
        return out

    def layer_metrics(self, run, spans):
        out = {
            "catalog.read_table.self_s": _mean_self(spans, "catalog.read_table"),
            "catalog.latest_actions.self_s": _mean_self(spans, "catalog.latest_actions"),
            "admin.parse_where.s": _mean_self(spans, "admin.parse_where"),
            "pathways.query_symbols.plan_s": _mean_self(spans, "pathways.query_symbols.plan"),
            "pathways.query_symbols.exec_s": _mean_self(spans, "pathways.query_symbols.exec"),
            "sparql.sparql_select.plan_s": _mean_self(spans, "sparql.sparql_select.plan"),
            "sparql.sparql_select.exec_s": _mean_self(spans, "sparql.sparql_select.exec"),
        }
        req = spans.get("admin.request")
        out["admin.request.server_ms"] = req["total_s"] / req["count"] * 1e3 if req else 0.0
        for layer, prefix in (("pathways.query_symbols", "pathways.query_symbols"),
                              ("sparql.sparql_select", "sparql.sparql_select")):
            calls = spans.get(f"{prefix}.exec", {}).get("count", 0) or 1
            parts = [spans.get(f"{prefix}.{p}", {}) for p in ("plan", "exec")]
            out[f"{layer}.jobs"] = sum(p.get("jobs", 0) for p in parts) / calls
            out[f"{layer}.shuffle_bytes"] = sum(p.get("shuffle_write_bytes", 0)
                                                for p in parts) / calls
        lookups = {sp.rid for sp in self.tracer.spans if sp.name == "request.lookup"}
        scanned = sum(sp.engine.get("input_records", 0)
                      for sp in self.tracer.spans if sp.rid in lookups)
        out["catalog.read.rows_scanned_per_row_returned"] = (
            scanned / max(1, run.counters.get("lookup.rows", 0)))
        return out


# -------------------------------------------------------------- corpus_curate


class CorpusCurate(Workload):
    """Closed loop, one client: each pass runs the whole curation pipeline
    from the input files and releases every cached block at its end."""

    name = "corpus_curate"
    primary = "pass"
    SIZES = dict(n_docs=2000, n_vectors=2000, n_heldout=100)
    #: LSH misses a few true pairs by design; IVF pairs only within a cluster
    RECALL_FLOOR, IVF_RECALL_FLOOR = 0.85, 0.6

    def setup(self, spark, rep):
        self.spark = spark
        self.inp = gen.make_curate(self.seed, os.path.join(self.rep_dir(rep), "inputs"),
                                   **self.SIZES)

    def truth(self):
        self.want = gen.curate_truth(self.inp)

    def warmup(self):
        # a full-size pass: on a smaller corpus the first measured pass still
        # pays about half the cold cost
        run = Run()
        self._pass(run, self.inp, self.want)
        return run

    def run(self, seconds):
        run = Run()
        _repeat(seconds, lambda: self._pass(run, self.inp, self.want))
        return run

    def _inputs(self, inp):
        from pyspark.sql import functions as F

        from bio2bel_spark.ingest import read_tsv

        spark = self.spark
        docs = read_tsv(spark, inp.docs_path, SCHEMAS["docs"])
        heldout = read_tsv(spark, inp.heldout_path, SCHEMAS["docs"])
        emb = read_tsv(spark, inp.emb_path, "vec_id BIGINT, embedding STRING").withColumn(
            "embedding", F.split("embedding", ",").cast("array<double>"))
        return docs, heldout, emb

    def _pass(self, run: Run, inp: gen.CurateInputs, want: gen.CurateTruth) -> None:
        from pyspark.sql import functions as F

        from bio2bel_spark.operators.caching import release_cached, tracked_persist
        from bio2bel_spark.operators.dedup import (
            decontaminate, dedup_fuzzy, drop_exact_duplicates, remove_duplicate_spans)
        from bio2bel_spark.operators.similarity import embedding_near_pairs
        from bio2bel_spark.operators.textquality import detect_language, quality_features

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("pass"):
            docs, heldout, emb = self._inputs(inp)
            with tr.span("operators.textquality.quality_features"):
                feats = quality_features(docs.withColumn("lang", detect_language("text")),
                                         keep=("lang",))
                by_lang = feats.groupBy("lang").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tokens"),
                    F.sum("n_chars").alias("chars")).collect()
            with tr.span("operators.dedup.drop_exact_duplicates"):
                exact = tracked_persist(drop_exact_duplicates(docs))
                n_exact = exact.count()
            with tr.span("operators.dedup.dedup_fuzzy"):
                dropped = dedup_fuzzy(exact).filter(~F.col("keep")).collect()
            with tr.span("operators.dedup.remove_duplicate_spans"):
                spans = remove_duplicate_spans(exact, n=8).agg(
                    F.count(F.lit(1)).alias("n"), F.sum("n_kept").alias("kept"),
                    F.sum("n_dropped").alias("dropped")).collect()[0]
            with tr.span("operators.similarity.embedding_near_pairs"):
                pairs = embedding_near_pairs(emb, threshold=0.95, n_clusters=8,
                                             id_col="vec_id").collect()
            with tr.span("operators.dedup.decontaminate"):
                clean, hits = decontaminate(exact, heldout, threshold=0.5)
                hits = hits.collect()
                n_clean = clean.count()
            with tr.span("operators.caching.release_cached"):
                released = release_cached(self.spark)
        elapsed = time.perf_counter() - t0
        run.add("operators.caching.release_cached.released", released)
        run.add("near_pairs", len(pairs))
        self._check(run, inp, want, by_lang, n_exact, dropped, spans, pairs, hits, n_clean)
        run.op("pass", elapsed)
        run.work += inp.n_docs
        run.busy += elapsed

    def _check(self, run, inp, w, by_lang, n_exact, dropped, spans, pairs, hits, n_clean):
        langs = {r["lang"]: r["n"] for r in by_lang}
        run.check(langs == w.lang_counts, f"detect_language counts {langs} != {w.lang_counts}")
        tokens = sum(r["tokens"] for r in by_lang)
        chars = sum(r["chars"] for r in by_lang)
        run.check((tokens, chars) == (w.tokens, w.chars),
                  f"quality_features tokens/chars {(tokens, chars)} != {(w.tokens, w.chars)}")
        run.check(n_exact == w.n_exact_survivors,
                  f"drop_exact_duplicates kept {n_exact}, want {w.n_exact_survivors}")

        comp = w.fuzzy_component
        wrong = [(r["doc_id"], r["cluster"]) for r in dropped
                 if comp.get(r["doc_id"]) is None or comp.get(r["doc_id"]) != comp.get(r["cluster"])]
        non_min = [d for d, m in comp.items() if d != m]
        found = sum(1 for r in dropped if comp.get(r["doc_id"]) == r["cluster"])
        recall = found / len(non_min) if non_min else 1.0
        run.check(not wrong and recall >= self.RECALL_FLOOR,
                  f"dedup_fuzzy: {len(wrong)} docs clustered outside their family "
                  f"(e.g. {wrong[:3]}), recall {recall:.3f}")

        run.check((spans["n"], spans["kept"], spans["dropped"])
                  == (w.n_exact_survivors, w.span_kept, w.span_dropped),
                  f"remove_duplicate_spans rows/kept/dropped {tuple(spans)} != "
                  f"{(w.n_exact_survivors, w.span_kept, w.span_dropped)}")

        bad = [(r["id_a"], r["id_b"]) for r in pairs
               if gen.cosine(inp.vectors[r["id_a"]], inp.vectors[r["id_b"]]) < 0.95 - 1e-6]
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        recall = len(got & set(w.emb_pairs)) / max(1, len(w.emb_pairs))
        run.check(not bad and recall >= self.IVF_RECALL_FLOOR,
                  f"embedding_near_pairs: {len(bad)} pairs below threshold, recall {recall:.3f}")

        got = {(r["lid"], r["rid"]) for r in hits}
        extra = got - set(w.contamination_pairs)
        recall = len(got & set(w.contamination_pairs)) / max(1, len(w.contamination_pairs))
        n_hit_docs = len({lid for lid, _ in got})
        run.check(not extra and recall >= self.RECALL_FLOOR and n_clean == n_exact - n_hit_docs,
                  f"decontaminate: {len(extra)} unexpected hits, recall {recall:.3f}, "
                  f"clean {n_clean} vs {n_exact} - {n_hit_docs}")

    def headline(self, run):
        return {"curate.docs_per_s": (run.work / run.busy, "1/s", len(run.latencies["pass"]))}

    def layer_metrics(self, run, spans):
        from pyspark.sql import functions as F

        from bio2bel_spark.operators.caching import release_cached
        from bio2bel_spark.operators.dedup import (
            drop_exact_duplicates, fuzzy_pairs, lsh_candidate_pairs)
        from bio2bel_spark.operators.similarity import ivf_assign

        out = {n + ".self_s": _mean_self(spans, n) for n in (
            "operators.dedup.dedup_fuzzy", "operators.similarity.embedding_near_pairs",
            "operators.textquality.quality_features", "operators.dedup.remove_duplicate_spans")}
        out["operators.dedup.dedup_fuzzy.shuffle_bytes"] = _per_call(
            spans, "operators.dedup.dedup_fuzzy", "shuffle_write_bytes")
        n_pass = len(run.latencies.get("pass", [])) or 1
        out["operators.caching.release_cached.released"] = run.counters.get(
            "operators.caching.release_cached.released", 0) / n_pass
        # useful-outcome ratios, measured once on the same inputs
        docs, _heldout, emb = self._inputs(self.inp)
        exact = drop_exact_duplicates(docs)
        cand = lsh_candidate_pairs(exact).count()
        verified = fuzzy_pairs(exact).count()
        out["operators.dedup.dedup_fuzzy.verified_per_candidate"] = verified / max(1, cand)
        sizes = ivf_assign(emb, 8, id_col="vec_id").groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n")).collect()
        cand = sum(r["n"] * (r["n"] - 1) // 2 for r in sizes)
        out["operators.similarity.embedding_near_pairs.pairs_per_candidate"] = (
            run.counters.get("near_pairs", 0) / n_pass / max(1, cand))
        release_cached(self.spark)
        return out


WORKLOADS = {w.name: w for w in (KgPopulate, CatalogServe, CorpusCurate)}
