"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
writes parquet with pyarrow, so no Spark job runs while inputs are made
and the parse UDF never chains onto a Python generator stage.

The JS generators are *structural*: the seed changes identifiers,
literals, statement order and repo names, never the number or kind of
declarations. The triple histogram of a build is therefore the same for
every seed, which lets the benchmark pin it (see ``expected.json``).
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from codeontology_spark.fixtures import FIXTURES, perf50

SOURCE_SCHEMA = pa.schema(
    [
        pa.field("repo", pa.string(), nullable=False),
        pa.field("path", pa.string(), nullable=False),
        pa.field("commit", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("content", pa.string()),
    ]
)


def _commit(repo: str) -> str:
    return hashlib.sha256(repo.encode()).hexdigest()[:12]


def _write(rows: list[dict], schema: pa.Schema, out_dir: str, n_files: int) -> None:
    """Split rows round-robin over ``n_files`` parquet files, so the scan
    has one task per file instead of one task for the whole table."""
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        part = rows[i::n_files]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:04d}.parquet"))


# ------------------------------------------------------------ build-unique

# statement templates for function bodies: none of them declares an entity
# the parser extracts (no calls, no `var`, no nested functions), so a body
# adds parse work but no triples
_STMTS = (
    "let {a} = ({b} * {n} + {c}) % {m};",
    "const {a} = [{b}, {c}, {n}].length + {m};",
    "if ({b} > {n}) {{ {c} = {c} + {b}; }} else {{ {c} = {c} - {m}; }}",
    "for (let i = 0; i < {n}; i++) {{ {c} = {c} + i * {b}; }}",
    "while ({b} > {m}) {{ {b} = {b} - {n}; }}",
    "const {a} = {{ left: {b}, right: {c}, weight: {n} }};",
    "const {a} = `{b}=${{{b}}} {c}=${{{c}}}`;",
    "switch ({b} % {m}) {{ case 0: {c} = {n}; break; default: {c} = {m}; }}",
    "{c} = {b} >= {n} ? {c} * {m} : {c} + {n};",
)


def _body(rng: random.Random, tok: str, params: list[str], n_stmts: int) -> list[str]:
    names = list(params)
    lines = []
    for k in range(n_stmts):
        tmpl = _STMTS[rng.randrange(len(_STMTS))]
        a = f"v_{tok}_{k}"
        b, c = rng.choice(names), rng.choice(names)
        lines.append(
            "    " + tmpl.format(a=a, b=b, c=c, n=rng.randrange(2, 97), m=rng.randrange(3, 31))
        )
        if tmpl.startswith(("let", "const")):
            names.append(a)
    return lines


def unique_file(rng: random.Random, idx: int, n_funcs: int, n_stmts: int) -> tuple[str, str]:
    """One JS module: an import, ``n_funcs`` exported 3-parameter functions
    with ``n_stmts``-statement bodies ending in one call, and one class
    with a constructor and a method. All names carry a per-file token, so
    no URI collides across files."""
    tok = f"{idx:05d}{rng.getrandbits(24):06x}"
    out = [f"import {{ h_{tok}_0, h_{tok}_1 }} from './lib_{tok}.js';", ""]
    for f in range(n_funcs):
        params = [f"p_{tok}_{f}_{j}" for j in range(3)]
        out.append(f"export function fn_{tok}_{f}({', '.join(params)}) {{")
        out.extend(_body(rng, f"{tok}_{f}", params, n_stmts))
        out.append(f"    return h_{tok}_{f % 2}({params[0]});")
        out.append("}")
        out.append("")
    out += [
        f"export class Svc_{tok} extends Base_{tok} {{",
        f"    constructor(c_{tok}) {{",
        f"        super(c_{tok});",
        f"        this.size = c_{tok};",
        "    }",
        "",
        f"    total_{tok}(t_{tok}) {{",
        f"        let s_{tok} = t_{tok} + this.size;",
        f"        return s_{tok} * {rng.randrange(2, 9)};",
        "    }",
        "}",
        "",
    ]
    return f"src/mod_{tok}.js", "\n".join(out)


def write_unique_repos(
    seed: int, out_dir: str, n_files: int, n_funcs: int, n_stmts: int,
    files_per_repo: int, n_parts: int,
) -> dict:
    rng = random.Random(f"unique:{seed}")
    rows = []
    for i in range(n_files):
        repo = f"uniq{seed}/repo{i // files_per_repo:04d}"
        path, content = unique_file(rng, i, n_funcs, n_stmts)
        rows.append({"repo": repo, "path": path, "commit": _commit(repo),
                     "lang": "javascript", "content": content})
    rng.shuffle(rows)
    _write(rows, SOURCE_SCHEMA, out_dir, n_parts)
    return {"files": len(rows), "bytes": sum(len(r["content"]) for r in rows),
            "distinct_files": len(rows)}


# ------------------------------------------------------------------ forks


def fork_base() -> list[tuple[str, str]]:
    """The file set every fork carries: every fixture set plus the 50-file
    perf corpus, under per-fixture directories (synth_table's shape)."""
    base = [(f"{fx}/{p}", c) for fx in sorted(FIXTURES) for p, c in sorted(FIXTURES[fx].items())]
    base += [(f"perf/{p}", c) for p, c in sorted(perf50().items())]
    return base


def _lang(path: str) -> str:
    return "typescript" if path.endswith((".ts", ".tsx")) else "javascript"


def write_fork_repos(seed: int, out_dir: str, n_repos: int, n_parts: int) -> dict:
    rng = random.Random(f"forks:{seed}")
    base = fork_base()
    rows = []
    for i in range(n_repos):
        repo = f"fork{seed}/{rng.getrandbits(32):08x}-{i:04d}"
        for path, content in base:
            rows.append({"repo": repo, "path": path, "commit": _commit(repo),
                         "lang": _lang(path), "content": content})
    rng.shuffle(rows)
    _write(rows, SOURCE_SCHEMA, out_dir, n_parts)
    return {"files": len(rows), "bytes": sum(len(r["content"]) for r in rows),
            "distinct_files": len(base)}


# -------------------------------------------------------------- documents

DOC_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("n_chars", pa.int64()),
    ]
)

# the profile of the repo's sf0.1 documents table (5,000 rows), measured
# with DuckDB: 10-100 words per document, uniform (mean 54), over a
# 30-word vocabulary; 250 documents (5%) are another document's text plus
# the word "dup"; 8 (0.16%) are exact copies of another; source is
# src<doc_id % 20>; languages as below
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
WORDS = (10, 100)
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016


def documents(seed: int, n_docs: int) -> list[dict]:
    """Random-word documents with the sf0.1 table's size, duplicate and
    language profile. Each near or exact copy copies a distinct unmodified
    document, so dedup finds the same number of copies for every seed."""
    rng = random.Random(f"docs:{seed}")
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(*WORDS)))
             for _ in range(n_docs)]
    n_near, n_exact = round(NEAR_DUP_SHARE * n_docs), round(EXACT_DUP_SHARE * n_docs)
    copies = rng.sample(range(n_docs), n_near + n_exact)
    taken = set(copies)
    originals = rng.sample([i for i in range(n_docs) if i not in taken], len(copies))
    for k, (i, j) in enumerate(zip(copies, originals)):
        texts[i] = texts[j] + " dup" if k < n_near else texts[j]
    langs, weights = zip(*LANGS)
    return [
        {"doc_id": i, "text": t, "lang": rng.choices(langs, weights)[0],
         "source": f"src{i % 20}", "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]


def write_documents(docs: list[dict], out_dir: str, n_parts: int) -> None:
    _write(docs, DOC_SCHEMA, out_dir, n_parts)
