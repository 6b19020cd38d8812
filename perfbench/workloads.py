"""The benchmark's workloads: inputs, one pass of operations, output checks.

Every operation goes through a public entry point of the program:
``codeontology_spark.__main__.main([...])`` for ``build`` and ``corpus``,
and the functions the CLI ``query`` subcommand calls (``queries.*``,
``pipeline.graph_stats``) for queries.

A workload's ``prepare`` writes its seeded inputs with pyarrow (no Spark
job); ``pass_ops`` lists one pass of the closed loop, starting with a CLI
``build`` (the seed picks query arguments); ``check`` verifies outputs
after the timed loop and returns the names of the operations whose output
was wrong.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import random
from dataclasses import dataclass

import gen
from tracing import Tracer

#: Spark task slots: the benchmark runs local[NPROC]
NPROC = len(os.sched_getaffinity(0))


@dataclass
class Op:
    """One operation of a pass: ``key`` names its expected output, ``fn``
    runs it and returns whether its output was right."""

    key: str
    fn: object


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    expected: dict
    tracer: object


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def cli(argv: list[str]) -> tuple[int, dict]:
    """Run the CLI in-process; return its exit code and JSON summary."""
    from codeontology_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    lines = buf.getvalue().strip().splitlines()
    return rc, (json.loads(lines[-1]) if lines else {})


# ------------------------------------------------------------- build layers


@contextlib.contextmanager
def traced_build_layers(tracer):
    """While a traced build runs, wrap the calls ``cmd_build`` makes into
    each layer in a span and materialise the layer's output inside it
    (Spark is lazy: untouched, extraction would run inside the invariant
    count and emission inside the write). Extraction is already persisted
    by ``build_graph``; the traced run also persists the triples and the
    invariant result so the store spans time only the writes."""
    from codeontology_spark import pipeline, store
    from pyspark.storagelevel import StorageLevel

    orig = {
        "build_graph": pipeline.build_graph,
        "verify_content_invariant": pipeline.verify_content_invariant,
        "write_triples": store.write_triples,
        "write_file_lineage": store.write_file_lineage,
        "stage_lineage": store.stage_lineage,
    }
    cached = []

    def build_graph(*a, **kw):
        with tracer.span("extract"):
            res = orig["build_graph"](*a, **kw)
            res.raw_entities.count()
        with tracer.span("emit"):
            triples = res.triples.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(triples)
            tracer.info["emit.triples"] = triples.count()
        return pipeline.BuildResult(
            entities=res.entities, triples=triples, raw_entities=res.raw_entities
        )

    def verify_content_invariant(*a, **kw):
        with tracer.span("invariant"):
            bad = orig["verify_content_invariant"](*a, **kw).persist()
            cached.append(bad)
            tracer.info["invariant.violations"] = bad.count()
        return bad

    def write_triples(*a, **kw):
        with tracer.span("store.write_triples"):
            return orig["write_triples"](*a, **kw)

    def write_file_lineage(*a, **kw):
        with tracer.span("store.write_lineage"):
            return orig["write_file_lineage"](*a, **kw)

    def stage_lineage(*a, **kw):
        with tracer.span("store.write_lineage"):
            df = orig["stage_lineage"](*a, **kw).persist()
            cached.append(df)
            df.count()
        return df

    patches = [
        (pipeline, "build_graph", build_graph),
        (pipeline, "verify_content_invariant", verify_content_invariant),
        (store, "write_triples", write_triples),
        (store, "write_file_lineage", write_file_lineage),
        (store, "stage_lineage", stage_lineage),
    ]
    for mod, name, fn in patches:
        setattr(mod, name, fn)
    try:
        yield
    finally:
        for mod, name, _ in patches:
            setattr(mod, name, orig[name])
        for df in cached:
            df.unpersist()


def pred_histogram(spark, triples_path: str) -> dict[str, int]:
    rows = spark.read.parquet(triples_path).groupBy("pred").count().collect()
    return {r["pred"]: r["count"] for r in rows}


class BuildWorkload:
    """One CLI ``build`` per operation, over a fixed source table."""

    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.src = f"{ctx.work}/src"
        self.graph = f"{ctx.work}/graph"

    def expected_hist(self) -> dict[str, int]:
        raise NotImplementedError

    def build(self) -> bool:
        tracer = self.ctx.tracer
        layers = traced_build_layers(tracer) if isinstance(tracer, Tracer) else contextlib.nullcontext()
        with tracer.span("cli.build"), layers:
            rc, summary = cli(["build", "--src", self.src, "--out", self.graph])
        return rc == 0 and summary.get("n_triples_total") == sum(self.expected_hist().values())

    def pass_ops(self, rng: random.Random) -> list[Op]:
        return [Op("build", self.build)]

    def check(self) -> list[str]:
        got = pred_histogram(self.ctx.spark, f"{self.graph}/snap=latest")
        return [] if got == self.expected_hist() else ["build"]

    def out_bytes_per_row(self) -> float:
        hist = self.expected_hist()
        return _du(f"{self.graph}/snap=latest") / sum(hist.values())

    def distinct_files(self) -> list[tuple[str, str]]:
        raise NotImplementedError

    def layer_counts(self) -> dict:
        """Counts for the extract layer, measured on the source table."""
        from pyspark.sql import functions as F

        src = self.ctx.spark.read.parquet(self.src)
        files_in = src.count()
        parsed = src.select("path", F.sha2("content", 256)).distinct().count()
        return {
            "extract.files_in": files_in,
            "extract.files_parsed": parsed,
            "extract.parse_share": parsed / files_in,
            "store.files_written": _parquet_files(f"{self.graph}/snap=latest"),
            "store.bytes_written": _du(f"{self.graph}/snap=latest"),
        }


class BuildUnique(BuildWorkload):
    """Every file distinct and statement-heavy: the parse dominates."""

    name = "build-unique"
    # JIT warm-up goes on for several builds (CPU per build falls from
    # about 20 s to 11-13 s by the sixth), so the loop times a fixed
    # number of builds: the same build indices in every run
    WARM_PASSES = 1
    MIN_PASSES = 4
    TRACED_PASSES = 3
    PARAMS = {"n_files": 40, "n_funcs": 3, "n_stmts": 240, "files_per_repo": 20}

    def prepare(self) -> dict:
        return gen.write_unique_repos(
            self.ctx.seed, self.src, n_parts=2 * NPROC, **self.PARAMS
        )

    def expected_hist(self) -> dict[str, int]:
        per_file = self.ctx.expected[self.name]["per_file_hist"]
        return {p: c * self.PARAMS["n_files"] for p, c in per_file.items()}

    def distinct_files(self) -> list[tuple[str, str]]:
        rng = random.Random(f"unique:{self.ctx.seed}")
        p = self.PARAMS
        return [gen.unique_file(rng, i, p["n_funcs"], p["n_stmts"]) for i in range(p["n_files"])]


# ------------------------------------------------------ forks-build-query

# template -> argument tuples the seed picks from (each pool's tuples give
# the same work)
LOOKUPS = {
    "calls": [("add",), ("subtract",), ("multiply",), ("divide",)],
    "called-by": [("validateUser",), ("renameUser",)],
    "in-module": [("simple",)],
    "unused": [()],
    "entity-counts": [()],
}
TRAVERSALS = {
    "circular": [()],
    "cc": [()],
}

# corpus op -> (extra CLI arguments, oracle key in __spark_entry__.oracle_sql)
CORPUS_OPS = {
    "exact-dedup": ([], "docs_exact_dedup"),
    "c4": ([], "docs_c4_filter"),
    "pack": (["--seq-len", "256", "--n-shards", "16"], "corpus_pack_sequences"),
}


def _query_fn(template: str):
    from codeontology_spark import queries as Q
    from codeontology_spark.pipeline import graph_stats

    return {
        "calls": Q.functions_calling,
        "called-by": Q.functions_called_by,
        "in-module": Q.functions_in_module,
        "unused": Q.unused_functions,
        "entity-counts": graph_stats,
        "circular": Q.circular_dependencies,
        "cc": lambda t: Q.connected_components(Q.edge(t, "code:calls")),
    }[template]


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else f"{v:.6g}"
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return "[" + ",".join(_canon(x) for x in list(v)) + "]"
    return str(v)


def _canon_rows(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    return cols, sorted(tuple(_canon(r[c]) for c in cols) for _, r in pdf.iterrows())


class ForksBuildQuery(BuildWorkload):
    """Forks of one 66-file repo, built and then read. Each pass is one CLI
    ``build`` followed by graph queries over the stored graph and corpus
    ops over a documents table. Dedup leaves 66 files to parse, so the
    build is led by the join-back, emission and the store writes; the
    reads by the iterative traversals."""

    name = "forks-build-query"
    WARM_PASSES = 1
    MIN_PASSES = 1
    TRACED_PASSES = 2
    PARAMS = {"n_repos": 20, "n_docs": 5000}

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.docs = f"{ctx.work}/docs"
        self.docs_c4 = f"{ctx.work}/docs_c4"

    def prepare(self) -> dict:
        info = gen.write_fork_repos(self.ctx.seed, self.src, self.PARAMS["n_repos"], 2 * NPROC)
        docs = gen.documents(self.ctx.seed, self.PARAMS["n_docs"])
        gen.write_documents(docs, self.docs, NPROC)
        # the c4 oracle derives line structure from the single-line
        # documents first; the CLI op gets the same rewrite as its input
        c4 = [d | {"text": d["text"].replace(" line ", ".\n") + "."} for d in docs]
        gen.write_documents(c4, self.docs_c4, NPROC)
        return info | {"docs": len(docs)}

    def expected_hist(self) -> dict[str, int]:
        per_repo = self.ctx.expected[self.name]["per_repo_hist"]
        return {p: c * self.PARAMS["n_repos"] for p, c in per_repo.items()}

    def distinct_files(self) -> list[tuple[str, str]]:
        return gen.fork_base()

    def _query(self, template: str, args: tuple, key: str):
        def run() -> bool:
            from codeontology_spark.store import read_triples

            with self.ctx.tracer.span(f"queries.{template}"):
                t = read_triples(self.ctx.spark, self.graph)
                n = _query_fn(template)(t, *args).count()
            return n == self.ctx.expected[self.name]["rows"][key]

        return run

    def _corpus(self, op: str):
        extra, _ = CORPUS_OPS[op]
        inp = self.docs_c4 if op == "c4" else self.docs

        def run() -> bool:
            with self.ctx.tracer.span(f"ops.{op}"):
                rc, summary = cli(["corpus", "--in", inp, "--out", f"{self.ctx.work}/out_{op}",
                                   "--op", op, *extra])
            return rc == 0 and summary.get("rows", 0) > 0

        return run

    def pass_ops(self, rng: random.Random) -> list[Op]:
        """Build, lookups, traversals, corpus ops, in a fixed order so that
        plan warm-up lands on the same ops for every seed; the seed picks
        the query arguments."""
        ops = [Op("build", self.build)]
        for template, pool in (LOOKUPS | TRAVERSALS).items():
            args = pool[rng.randrange(len(pool))]
            key = ":".join([template, *map(str, args)])
            ops.append(Op(key, self._query(template, args, key)))
        return ops + [Op(op, self._corpus(op)) for op in CORPUS_OPS]

    def check(self) -> list[str]:
        """The stored histogram, and each corpus op's last output against
        the repo's SQL oracle."""
        import duckdb
        import pandas as pd

        import __spark_entry__ as E

        bad = super().check()
        oracles = E.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs}/*.parquet')")
            for op, (_, key) in CORPUS_OPS.items():
                want = _canon_rows(con.execute(oracles[key]).fetchdf())
                got = _canon_rows(pd.read_parquet(f"{self.ctx.work}/out_{op}"))
                if want != got:
                    bad.append(op)
        finally:
            con.close()
        return bad


WORKLOADS = {c.name: c for c in (BuildUnique, ForksBuildQuery)}
