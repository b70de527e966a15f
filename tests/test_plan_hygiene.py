"""Engine-wide physical-plan hygiene sweep: every catalog query's plan
is compiled (no execution) and checked for scale hazards —

- NO CartesianProduct anywhere (an unkeyed n×m join is never okay);
- BroadcastNestedLoopJoin only for queries that legitimately cross-join
  a 1-row/constant-size broadcast (totals, stats rows, query vectors,
  top-k seeds) — the allowlist below, kept in sync with PLANS.md. A
  BNLJ sneaking into any OTHER query means a join lost its equi-keys;
- NO ``slice(split(`` anywhere: a token-slicing lambda over an INLINE
  split() re-runs the split once per gram/shingle under interpreted
  higher-order-function eval (measured 3.5× on the gram stage at
  sf0.1, r07) — the token array must be projected to an attribute
  first (textstats/dedup token-projection pattern).

It also holds two AST-only guards against code the system never runs:
every public top-level function or class in the package, other than
an ``@query`` (the catalog registers those), must be used by name,
outside its own body, by the package, the driver entry point,
``bench.py``, ``perfbench/`` or ``scripts/`` — a use from ``tests/``
does not count, and neither does a bare import; and every name a
package module imports must be used in that module.

Plan compilation only: the sweep explains ~200 queries in seconds and
catches hazard regressions without running any data.
"""

from __future__ import annotations

import ast
import io
import pathlib
import re
from contextlib import redirect_stdout

import pytest

SF = "/root/testdata/sf0.001"

# queries whose plans legitimately contain BroadcastNestedLoopJoin —
# every entry crossJoins a 1-row aggregate / constant-size broadcast
BNLJ_ALLOWED = {
    "funnel_conversion", "value_histogram", "drift_psi", "rfm_segments",
    "funnel_with_timeout", "key_skew_report", "user_purge_audit",
    "cuped_adjusted_lift", "association_rules", "top_k_cosine",
    "knn_label_vote", "weekly_seasonality", "tfidf_top_terms",
    "fuzzy_source_pairs", "mixing_weights", "unigram_logprob",
    "curation_funnel", "curation_funnel_spans", "bm25_scores",
    "dsir_weights",
    "temperature_sample", "rrf_hybrid_rank", "training_manifest",
    # table_profile: r11 two-pass summarize crossJoins two 1-row aggs
    "table_profile",
    "ks_statistic", "item_pagerank", "pq_top_k", "hit_rate_popularity",
    "negative_samples", "part_value_share", "rich_idle_customers",
    "bigram_perplexity", "benford_check", "lsh_recall_report",
    "basket_size_distribution",
}

# queries whose construction RUNS jobs (iterative training/collect) —
# plan-compiling them means executing; they have their own tests
EXECUTES_ON_BUILD = {
    # kmeans_assign left OUT since r07: quantized fixed-codebook
    # assignment has no training collect, so its plan compiles lazily
    "quality_classifier", "bpe_train_merges",
    "embedding_whiten", "language_id", "predict_hit_rate",
    "encode_sessions", "near_dup_clusters", "near_dup_clusters_portable",
    "dedup_keep_best", "item_pagerank", "item_reachability",
    # ivf_top_k / pq_top_k left OUT since r06: quantized fixed-codebook
    # mode has no training collect, so their plans compile lazily
    "item_triangles", "lsh_top_k",
    "embedding_near_dups", "knn_label_vote", "top_k_cosine",
    "semantic_dedup_kmeans", "ann_recall_report",
    # r06 promotions: auto collects cluster sizes to route, encode
    # trains the merge table, roundtrip writes through the connector
    "semantic_dedup_auto", "bpe_encode_tokens", "jsonl_docs_roundtrip",
}


def test_no_cartesian_and_bnlj_only_where_documented(spark):
    import __spark_entry__ as m

    offenders_cart, offenders_bnlj, offenders_resplit, n_checked = [], [], [], 0
    for name, fn in m.queries().items():
        if name in EXECUTES_ON_BUILD:
            continue
        df = fn(spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_checked += 1
        if "CartesianProduct" in plan:
            offenders_cart.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            offenders_bnlj.append(name)
        if "slice(split(" in plan:
            offenders_resplit.append(name)
    assert n_checked > 150
    assert offenders_cart == [], f"CartesianProduct in: {offenders_cart}"
    assert offenders_bnlj == [], f"undocumented BNLJ in: {offenders_bnlj}"
    assert offenders_resplit == [], (
        f"per-element re-split (slice over inline split) in: "
        f"{offenders_resplit}"
    )


ROOT = pathlib.Path(__file__).resolve().parents[1]
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _used_names(tree: ast.Module) -> set[str]:
    """Every identifier the module uses — names, attributes and
    exact-name strings (``getattr``-style lookups), but not imports —
    except a top-level definition's uses of its own name inside its own
    body."""
    used: set[str] = set()

    def collect(node: ast.AST, skip: str | None = None) -> None:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                name = n.value
            else:
                continue
            if name != skip:
                used.add(name)

    for stmt in tree.body:
        collect(stmt, stmt.name if isinstance(stmt, _DEFS) else None)
    return used


def _names_used_by(paths: list[pathlib.Path]) -> set[str]:
    used: set[str] = set()
    for p in paths:
        used |= _used_names(ast.parse(p.read_text(), str(p)))
    return used


def test_every_public_definition_is_referenced():
    pkg = sorted((ROOT / "post_modern_stack_spark").rglob("*.py"))
    users = pkg + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("perfbench", "scripts"):
        users += sorted((ROOT / d).rglob("*.py"))
    used = _names_used_by(users)
    by_tests = _names_used_by(sorted((ROOT / "tests").rglob("*.py")))
    dead = [
        f"{p.relative_to(ROOT)}:{node.lineno} {node.name} is referenced "
        + ("only from tests/" if node.name in by_tests else "nowhere")
        for p in pkg
        for node in ast.parse(p.read_text(), str(p)).body
        if isinstance(node, _DEFS)
        and not node.name.startswith("_")
        and not any(_is_query(d) for d in node.decorator_list)
        and node.name not in used
    ]
    assert dead == [], "\n".join(["unused by the system:", *dead])


def _is_query(decorator: ast.expr) -> bool:
    """``@query(...)``: the catalog's registration decorator."""
    fn = decorator.func if isinstance(decorator, ast.Call) else decorator
    return isinstance(fn, ast.Name) and fn.id == "query"


def test_every_import_is_used():
    """Each name a package module imports is read in that module
    (``__all__`` entries count). ``from __future__`` and an import
    marked ``# noqa: F401`` (an import for its side effect, such as
    the catalog modules registering their queries) are exempt."""
    unused = []
    for p in sorted((ROOT / "post_modern_stack_spark").rglob("*.py")):
        src = p.read_text()
        tree = ast.parse(src, str(p))
        lines = src.splitlines()
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        read |= {
            n.value
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
        }
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            stmt = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            if re.search(r"#\s*noqa:[\w, ]*\bF401\b", stmt):
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in read:
                    unused.append(f"{p.relative_to(ROOT)}:{node.lineno} {name}")
    assert unused == [], "\n".join(["imported but unused:", *unused])
