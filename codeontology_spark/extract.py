"""Extraction stage: source rows → entity rows via Arrow-batched mapInPandas.

Replaces the reference's ThreadPoolExecutor fan-out
(/root/reference/src/pipeline/processor.py:302-354) with Spark data
parallelism: one vectorized Python stage over the (optionally salted)
repartitioned input table; no driver-side loops, no per-row Python UDF.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .jsparse import extract_file
from .schemas import ENTITY_SCHEMA

# file-level predicates of processor.py:229-300, expressed as Catalyst
# filters so they push into the parquet scan
SUPPORTED_EXTS = (".js", ".jsx", ".ts", ".tsx", ".mjs", ".cjs")
MAX_FILE_BYTES = 1024 * 1024  # processor.py:280


def source_filter(df: DataFrame) -> DataFrame:
    """A1/A2: extension + size + generated/test-file pruning
    (processor.py:236-238, 275-300). Pure column predicates — Catalyst
    pushes them into the scan."""
    path = F.col("path")
    fname = F.element_at(F.split(path, "/"), -1)
    lower = F.lower(fname)
    keep_ext = F.lower(path).rlike(r"\.(js|jsx|ts|tsx|mjs|cjs)$")
    not_large = F.length("content") <= F.lit(MAX_FILE_BYTES)
    not_generated = ~(
        lower.contains(".generated.")
        | lower.contains(".min.")
        | lower.contains(".bundle.")
        | lower.contains("vendor")
    )
    not_test = ~(
        F.lower(path).contains(".test.")
        | F.lower(path).contains(".spec.")
        | F.lower(path).contains("__tests__")
    )
    not_hidden = ~fname.startswith(".")
    ignore_dirs = (
        "node_modules", "dist", "build", ".git", ".next", "coverage",
        "__pycache__", ".pytest_cache", "venv", "env", ".vscode", ".idea",
    )
    not_ignored_dir = ~path.rlike(
        "(^|/)(" + "|".join(d.replace(".", r"\.") for d in ignore_dirs) + ")/"
    )
    return df.filter(
        keep_ext & not_large & not_generated & not_test & not_hidden & not_ignored_dir
    )


def _dedup_keep_first(xs: list) -> list:
    seen = set()
    out = []
    for x in xs:
        if x not in seen:
            seen.add(x)
            out.append(x)
    return out


# attribute extraction order must match ENTITY_SCHEMA (after repo/path/commit)
_PLAIN_FIELDS = [
    "kind", "name", "uri", "line", "col", "end_line", "end_col", "body_hash",
    "scope", "is_async", "is_generator", "is_arrow", "is_exported",
    "is_default_export", "is_static", "is_private", "is_constructor",
    "is_const", "is_let", "is_var", "init_value", "module_type",
    "module_path", "import_type",
]


def _get_extractor(mode: str):
    """Parser dispatch: 'treesitter' = jsparse (the emission-defining path);
    'fallback' = the reference's regex-degraded path (ast_parser.py:119-121:
    used verbatim whenever grammars are unavailable)."""
    if mode == "fallback":
        from .fallback import extract_file_fallback

        return extract_file_fallback
    return extract_file


def _entity_columns(
    cols: dict, repo: str, path: str, commit: str, content: str,
    extractor=extract_file,
) -> None:
    """Append one file's entity rows into columnar buffers (dict of lists).

    Columnar construction matters: building a 45-column pandas frame from
    row dicts plus Arrow coercion of per-row empty lists costs ~1 ms/row —
    ~15× the parse itself. Lists are None when empty so Arrow writes nulls
    instead of materializing millions of empty child arrays.
    """
    ents = extractor(path, content)
    sha = hashlib.sha256(content.encode()).hexdigest()
    for e in ents:
        cols["repo"].append(repo)
        cols["path"].append(path)
        cols["commit"].append(commit)
        for f in _PLAIN_FIELDS:
            cols[f].append(getattr(e, f))
        cols["imported_symbols"].append(e.imported_symbols or None)
        cols["export_type"].append(e.export_type)
        cols["callee_name"].append(e.callee_name)
        cols["caller_uri"].append(e.caller_uri)
        cols["callee_uri"].append(e.callee_uri)
        cols["is_method_call"].append(e.is_method_call)
        cols["arguments"].append(e.arguments or None)
        # duplicate-free lists → duplicate-free triples, so the emission
        # stage needs NO global dropDuplicates shuffle (rdflib Graph set
        # semantics, ontology_builder.py:79-82)
        cols["calls"].append(_dedup_keep_first(e.calls) or None)
        cols["parent_class_uri"].append(e.parent_class_uri)
        cols["is_rest"].append(e.is_rest)
        cols["extends_name"].append(e.extends_name)
        cols["functions"].append(_dedup_keep_first(e.functions) or None)
        cols["classes"].append(_dedup_keep_first(e.classes) or None)
        cols["methods"].append(_dedup_keep_first(e.methods) or None)
        cols["exports"].append(_dedup_keep_first(e.exports) or None)
        cols["imports"].append(_dedup_keep_first(e.imports) or None)
        cols["import_candidates"].append(e.import_candidates or None)
        cols["content_sha256"].append(sha if e.kind == "module" else None)
        cols["docstring"].append(e.docstring)
        cols["comments"].append(list(e.comments) or None)


def _entity_rows(repo: str, path: str, commit: str, content: str) -> list[dict]:
    """One file's entity rows as dicts — the per-row parse that
    ``extract_entities`` must reproduce (tests compare against it)."""
    cols: dict[str, list] = {f: [] for f in ENTITY_SCHEMA.fieldNames()}
    _entity_columns(cols, repo, path, commit, content)
    names = list(cols)
    return [dict(zip(names, vals)) for vals in zip(*[cols[n] for n in names])]


def extract_entities(
    source_df: DataFrame,
    apply_filters: bool = True,
    repartition: int | None = None,
    mode: str = "treesitter",
) -> DataFrame:
    """Source table → entity rows.

    Map-only parse: Arrow batches stream through ``mapInPandas``; 1→N
    expansion happens inside the UDF so no separate explode of a giant
    array column is materialized. For skewed repos, pre-repartition by a
    salted key so one mega-repo cannot pin a single task (SURVEY.md §4.3).

    Each DISTINCT (path, content-sha) is parsed exactly once and its
    entity rows are joined back to every (repo, commit) that contains that
    file. Entity rows are a pure function of (path, content) — URIs mint
    from path+line, body hashes from content; only the repo/commit columns
    differ — so the output equals a per-row parse (``_entity_rows`` on each
    source row), but the expensive Python parse runs once per distinct
    file. Real code corpora are dominated by byte-identical duplicates
    (forks, vendored node_modules, lockstep boilerplate), the same
    observation the A3 change-detection anti-join already exploits with the
    same content-sha identity. This is the guide-§8 shape: do the heavy
    per-item work on the deduplicated small set, then re-attach by key —
    the parse-side dedup shuffle moves each distinct file's bytes once
    (map-side partial dedup collapses within-partition copies first),
    orders of magnitude cheaper than re-parsing them.
    """
    df = source_filter(source_df) if apply_filters else source_df

    field_names = ENTITY_SCHEMA.fieldNames()
    parsed_schema = StructType(
        [f for f in ENTITY_SCHEMA.fields if f.name not in ("repo", "commit")]
    ).add("_csha", "string")
    parsed_names = parsed_schema.fieldNames()

    keyed = df.withColumn(
        "_csha", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
    )
    distinct = keyed.select("path", "content", "_csha").dropDuplicates(
        ["path", "_csha"]
    )
    if repartition:
        distinct = distinct.repartition(repartition, F.col("path"), F.col("_csha"))

    def gen_distinct(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        extractor = _get_extractor(mode)
        for pdf in batches:
            cols: dict[str, list] = {f: [] for f in field_names}
            shas: list[str] = []
            for path, content, csha in zip(
                pdf["path"], pdf["content"], pdf["_csha"]
            ):
                before = len(cols["uri"])
                try:
                    _entity_columns(cols, "", path, "", content or "",
                                    extractor=extractor)
                except Exception:
                    # per-file failure tolerance (processor.py:342-354)
                    continue
                shas.extend([csha] * (len(cols["uri"]) - before))
            if cols["uri"]:
                del cols["repo"], cols["commit"]
                cols["_csha"] = shas
                yield pd.DataFrame(cols, columns=parsed_names)

    parsed = distinct.mapInPandas(gen_distinct, schema=parsed_schema)
    mapping = keyed.select("repo", "commit", "path", "_csha")
    return mapping.join(parsed, ["path", "_csha"]).select(*field_names)
