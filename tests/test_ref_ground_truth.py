"""EXECUTED-reference ground truth (replaces the round-1 same-parse oracle).

Three independent comparisons against reference code actually running from
/root/reference (see ref_exec.py for how its missing deps are bridged):

1. Parser parity, regex-fallback path: the reference's
   `_regex_extract_entities` (the one parser path executable in-sandbox)
   vs this engine's fallback mode — entity-level P/R on every fixture +
   demo-app file.
2. End-to-end fallback: reference parse → reference OntologyBuilder
   triples vs the engine's Spark pipeline in mode='fallback' — exact
   canonical triple-set equality per repo.
3. Emitter parity, tree-sitter-path entities: the engine's jsparse
   entities are converted to the reference's pydantic models (URIs
   re-minted BY the reference) and lowered by the EXECUTED
   OntologyBuilder; the result must equal the engine's Spark-emitted
   triples exactly. This replaces tests/oracle_emit.py's hand-written
   lowering as the emission oracle.

The tree-sitter parse itself cannot execute here (no grammar wheels in the
container); its fidelity evidence is the vocabulary/shape profile against
the reference's shipped TTL dumps (test 4) plus SURVEY §1.3's recorded
quirks, all pinned by the jsparse unit tests.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest

import ref_exec
from codeontology_spark.compare import canonicalize, diff, precision_recall
from codeontology_spark.fallback import extract_file_fallback
from codeontology_spark.fixtures import DEMO_FILES, FIXTURES
from codeontology_spark.jsparse import extract_file

_SRC_EXT = (".js", ".jsx", ".ts", ".tsx", ".mjs", ".cjs")

# The executed-reference tests need the reference's own source tree; where a
# pinned file is absent they are skipped (a present but changed file still
# fails the sha256 pin in ref_exec). Parity evidence that runs without it:
# tests/oracle_emit.py (the emitter oracle of test_triples), the pinned
# 11,610-triple TTL shape test below, and the jsparse fixture tests.
needs_ref_code = pytest.mark.skipif(
    not all(os.path.isfile(os.path.join(ref_exec.REF, rel)) for rel in ref_exec._REF_SHA256),
    reason=f"reference source tree not present under {ref_exec.REF}; parity rests on "
    "tests/oracle_emit.py (test_triples), the pinned 11,610-triple TTL shape "
    "test and the jsparse fixture tests",
)
needs_ref_ttl = pytest.mark.skipif(
    not os.path.isdir(os.path.join(ref_exec.REF, "graph_data")),
    reason=f"{ref_exec.REF}/graph_data not present; with no TTL dumps the "
    "vocabulary check would compare against an empty set",
)


def _corpora() -> dict[str, dict[str, str]]:
    out = {f"fixture/{fx}": dict(sorted(FIXTURES[fx].items())) for fx in sorted(FIXTURES)}
    out["demo/app"] = {
        p: c for p, c in sorted(DEMO_FILES.items()) if p.endswith(_SRC_EXT)
    }
    return out


def _ref_kind(e) -> str:
    kind = type(e).__name__.replace("Entity", "").lower()
    return "call" if kind == "callexpression" else kind


def _ref_key(e):
    return (
        _ref_kind(e), e.name, e.uri, e.location.line_number, e.location.column,
        e.body_hash, getattr(e, "is_exported", None), getattr(e, "scope", None),
        getattr(e, "module_path", None), getattr(e, "import_type", None),
        getattr(e, "parent_class_uri", None),
        tuple(sorted(getattr(e, "calls", []) or [])),
        tuple(sorted(getattr(e, "methods", []) or [])),
        tuple(sorted(getattr(e, "functions", []) or [])),
        tuple(sorted(getattr(e, "classes", []) or [])),
        tuple(getattr(e, "imported_symbols", []) or []),
    )


_EXPORTABLE = ("function", "method", "class", "interface")


def _our_key(e):
    return (
        e.kind, e.name, e.uri, e.line, e.col,
        e.body_hash,
        e.is_exported if e.kind in _EXPORTABLE else None,
        e.scope, e.module_path, e.import_type, e.parent_class_uri,
        tuple(sorted(e.calls or [])),
        tuple(sorted(e.methods or [])),
        tuple(sorted(e.functions or [])),
        tuple(sorted(e.classes or [])),
        tuple(e.imported_symbols or []),
    )


# ---------------------------------------------------------------------------
# 1. parser parity on the executable (regex-fallback) path
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("repo", sorted(_corpora()))
@needs_ref_code
def test_fallback_parser_matches_executed_reference(repo):
    files = _corpora()[repo]
    ref_ents = ref_exec.reference_parse(files)
    for path, content in files.items():
        expected = Counter(_ref_key(e) for e in ref_ents[path])
        actual = Counter(_our_key(e) for e in extract_file_fallback(path, content))
        pr = precision_recall(expected, actual)
        assert pr["precision"] == 1.0 and pr["recall"] == 1.0, (
            repo, path, pr,
            list((expected - actual).keys())[:3],
            list((actual - expected).keys())[:3],
        )


# ---------------------------------------------------------------------------
# 2/3. triple-level parity (Spark builds shared per session)
# ---------------------------------------------------------------------------

def _collect_by_repo(triples_df) -> dict[str, list[tuple]]:
    rows = triples_df.select("repo", "subj", "pred", "obj", "is_uri", "dtype").collect()
    out: dict[str, list[tuple]] = {}
    for r in rows:
        out.setdefault(r["repo"], []).append(
            (r["subj"], r["pred"], r["obj"], r["is_uri"], r["dtype"])
        )
    return out


_SRC_PARQUET: list[str] = []


def _source_table(spark):
    """Corpus table via a parquet round-trip: a createDataFrame input would
    chain a second Python worker into the extraction task (synth.py note)."""
    import tempfile

    from codeontology_spark.schemas import INPUT_SCHEMA

    if not _SRC_PARQUET:
        rows = []
        for repo, files in _corpora().items():
            for path, content in files.items():
                rows.append((repo, path, "c0ffee", "javascript", content))
        d = tempfile.mkdtemp(prefix="gt_src_")
        spark.createDataFrame(rows, schema=INPUT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/src")
        _SRC_PARQUET.append(f"{d}/src")
    return spark.read.parquet(_SRC_PARQUET[0])


@pytest.fixture(scope="module")
def engine_triples(spark):
    from codeontology_spark.pipeline import build_graph

    res = build_graph(_source_table(spark), persist=True)
    by_repo = _collect_by_repo(res.triples)
    res.unpersist()
    return by_repo


@pytest.fixture(scope="module")
def engine_fallback_triples(spark):
    from codeontology_spark.pipeline import build_graph

    res = build_graph(_source_table(spark), persist=True, mode="fallback")
    by_repo = _collect_by_repo(res.triples)
    res.unpersist()
    return by_repo


@needs_ref_code
def test_fallback_pipeline_matches_executed_reference_triples(engine_fallback_triples):
    for repo, files in _corpora().items():
        ref_ents_by_file = ref_exec.reference_parse(files)
        all_ents = [e for path in files for e in ref_ents_by_file[path]]
        expected = canonicalize(ref_exec.builder_triples(all_ents))
        actual = canonicalize(engine_fallback_triples.get(repo, []))
        pr = precision_recall(expected, actual)
        assert pr["precision"] == 1.0 and pr["recall"] == 1.0, (
            repo, pr, diff(expected, actual)
        )


@needs_ref_code
def test_spark_emission_matches_executed_reference_builder(engine_triples):
    """jsparse entities → reference pydantic models (URIs re-minted by the
    reference) → EXECUTED OntologyBuilder, vs the engine's Spark triples."""
    for repo, files in _corpora().items():
        converted = []
        for path, content in files.items():
            converted.extend(ref_exec.ents_to_pydantic(path, extract_file(path, content)))
        expected = canonicalize(ref_exec.builder_triples(converted))
        actual = canonicalize(engine_triples.get(repo, []))
        pr = precision_recall(expected, actual)
        assert pr["precision"] == 1.0 and pr["recall"] == 1.0, (
            repo, pr, diff(expected, actual)
        )


# ---------------------------------------------------------------------------
# 4. shape profile vs the reference's shipped TTL dumps
# ---------------------------------------------------------------------------

@needs_ref_ttl
def test_vocabulary_covers_shipped_ttl_dumps(engine_triples):
    """Every code:* predicate/class the reference's recorded sessions ever
    emitted (graph_data/*.ttl) must be producible by the engine — checked
    against the union of engine vocab over the fixture+demo corpus plus the
    class/predicate sets the emitter can emit for entity kinds absent from
    the corpus."""
    import glob

    ttl_vocab = set()
    for f in glob.glob(os.path.join(ref_exec.REF, "graph_data", "*.ttl")):
        with open(f, encoding="utf-8", errors="replace") as fh:
            ttl_vocab.update(re.findall(r"code:[A-Za-z]+", fh.read()))

    engine_vocab = set()
    for rows in engine_triples.values():
        for s, p, o, is_uri, dtype in rows:
            if p.startswith("code:"):
                engine_vocab.add(p)
            if p == "rdf:type" and o.startswith("code:"):
                engine_vocab.add(o)
    # kinds the emitter supports but the corpus doesn't exercise
    emitter_only = {
        "code:Interface", "code:hasTypeParameter", "code:Variable",
        "code:isConst", "code:isLet", "code:isVar", "code:initializationValue",
        "code:Class", "code:isAbstract", "code:hasMethod", "code:memberOf",
        "code:extends", "code:implements", "code:hasAlias", "code:fromModule",
        # hasDocstring/hasComment/commentText are no longer whitelisted:
        # the engine extracts and emits them (jsparse._attach_doc); the
        # shipped TTL dumps contain zero such triples, so they never appear
        # in ttl_vocab either way — asserted emittable in test_triples
        "code:dependsOn", "code:Method", "code:isStatic", "code:isPrivate",
        "code:isProtected", "code:isConstructor", "code:isGetter",
        "code:isSetter", "code:Property", "code:isReadonly",
        "code:hasProperty", "code:hasParameter", "code:hasDefaultValue",
        "code:hasReturnType", "code:returnsType", "code:typeName",
    }
    missing = ttl_vocab - engine_vocab - emitter_only
    assert not missing, f"TTL dump vocabulary the engine never produces: {missing}"


@needs_ref_code
def test_docstring_comment_parity_with_executed_reference():
    """The EXECUTED reference OntologyBuilder lowers docstring/comments
    (ontology_builder.py:117-130); converting jsparse entities that carry
    them must produce the exact same triples as the oracle lowering — the
    Spark emitter side is asserted in test_triples."""
    from oracle_emit import oracle_triples

    src = (
        "/** Doc text. */\n// first\n// second\n"
        "function f(a) { return a; }\n"
    )
    ents = extract_file("d.js", src)
    fn = next(e for e in ents if e.kind == "function")
    assert fn.docstring == "Doc text." and fn.comments == ["first", "second"]
    converted = ref_exec.ents_to_pydantic("d.js", ents)
    expected = canonicalize(ref_exec.builder_triples(converted))
    assert ("code:hasDocstring", "Doc text.") in {
        (p, o) for (_, p, o, _, _) in ref_exec.builder_triples(converted)
    }
    actual = canonicalize(oracle_triples("d.js", ents))
    pr = precision_recall(expected, actual)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, diff(expected, actual)


def test_frequency_shape_matches_recorded_ttl_profile():
    """Tree-sitter-path shape evidence (the TS parse can't execute here):
    the engine's emission profile over the Next.js-like corpus
    (nextjs_mini + demo app) must match the *shape* of the reference's
    recorded 24-module Next.js session (SURVEY §1.3 /
    graph_data/knowledge_graph_20250913_144426.ttl, 11,610 triples):
    per-class relative frequencies within a tolerance band, plus the
    corpus-independent structural invariants the quirks imply."""
    from collections import Counter

    from oracle_emit import oracle_triples

    # recorded instance counts from the shipped TTL's metadata (SURVEY §1.3)
    ttl_counts = {
        "code:CallExpression": 415, "code:Function": 141, "code:Import": 63,
        "code:Parameter": 44, "code:Export": 28, "code:Module": 24,
    }
    ttl_total = sum(ttl_counts.values())

    corp = _corpora()
    files = dict(corp["fixture/nextjs_mini"])
    files.update(corp["demo/app"])
    types: Counter = Counter()
    preds: Counter = Counter()
    for path, content in files.items():
        for (s, p, o, u, dt) in oracle_triples(path, extract_file(path, content)):
            preds[p] += 1
            if p == "rdf:type" and o.startswith("code:"):
                types[o] += 1

    # flattening quirks: Method → Function, Property → Variable, ALWAYS
    assert types["code:Method"] == 0 and types["code:Property"] == 0

    ent_total = sum(v for k, v in types.items() if k != "code:SourceLocation")
    # relative frequency bands: the corpora differ (8+10 modules vs 24), so
    # shares must agree within a 3x ratio — catches a parser that stops
    # emitting a class or floods one, not corpus composition noise
    for cls, ttl_n in ttl_counts.items():
        ttl_share = ttl_n / ttl_total
        eng_share = types[cls] / ent_total
        ratio = eng_share / ttl_share
        assert 1 / 3 <= ratio <= 3, (cls, round(eng_share, 3), round(ttl_share, 3))

    # structural invariants visible in the TTL (SURVEY §1.3):
    # 715 hasName = 715 hasURI; 759 SourceLocation = 715 + 44 parameters
    assert preds["code:hasName"] == preds["code:hasURI"] == ent_total
    assert types["code:SourceLocation"] == ent_total + types["code:Parameter"]
    assert preds["code:locatedAt"] == types["code:SourceLocation"]
    # 415 isMethodCall = 415 CallExpression; callsFunction ≥ CallExpression
    # (dual-typed: string literal per call + URIRef when resolved)
    assert preds["code:isMethodCall"] == types["code:CallExpression"]
    assert preds["code:callsFunction"] >= types["code:CallExpression"]
