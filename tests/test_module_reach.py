"""Every package module must be reached by an import chain from
something graded, benchmarked or on the paper's surface (ROADMAP north
star: no module that nothing graded, benchmarked or in the paper's
surface reaches). The walk parses import statements with ``ast`` and
imports nothing; imports inside function bodies count. A module that
only its own tests import shows up here as unreached.

The same rule holds per top-level function: a function is reached when
its name appears in a root script, in the module-level code of a
reached module, or in the body of another reached function. The
registered rows and the public functions of the root modules are the
surface the walk starts from. Every other function is pinned in
``UNREACHED_FUNCTIONS`` with the reason it stays."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "regpulse_lakehouse_spark"

# the registry (load_all imports every query module), the governed
# ingestion (pipelines, streaming ledger + stream_scan, the Delta log),
# the scrape stage and the lineage graph with its layout and fixtures
ROOT_MODULES = [
    "queries",
    "pipelines",
    "streaming",
    "operators.delta_log",
    "sources.html",
    "operators.lineage",
    "sources.layout",
    "sources.fixtures",
]
ROOT_SCRIPTS = [
    "__spark_entry__.py",
    "bench.py",
    "scripts/driver_replica.py",
    *sorted(p.relative_to(REPO).as_posix() for p in (REPO / "perfbench").glob("*.py")),
]

# Reached only by its own tests: the next deletion of ROADMAP item 4.
# Delete a module, then drop it from this set.
UNREACHED = {"operators.rasters"}

# Top-level functions that nothing graded, benchmarked or on the paper's
# surface reaches, by module, each group with the reason it stays.
# ROADMAP item 4 tracks the codec modules below as whole modules, so
# their functions are not listed. Delete a function, then drop it here.
CODEC_MODULES = {"operators.h264", "operators.jpeg", "operators.jpeg_arith", "operators.rasters"}
UNREACHED_FUNCTIONS = {
    # test reference: the inverses (decode, encrypt) and the ad-hoc or
    # sequential twins that tests check the graded paths against
    "functions.vecmath": {"pq_decode_udf"},
    "sources.pdfcrypto": {"aes_cbc_encrypt"},
    "streaming.near_dup": {"incremental_near_dup"},
    "operators.quantize": {
        "dequantize_embeddings", "ivf_pq_topk", "pq_adc_topk", "pq_decode",
        # next deletion: the IVF-PQ index lifecycle (10 tests)
        "_ivf_id_col", "apply_changes_to_ivf_pq_index", "ivf_pq_append",
        "ivf_pq_compact", "ivf_pq_delete", "ivf_pq_health",
    },
    # test reference: the trainers and the Arrow encoder that the frozen
    # coefficients and merges of the graded rows are pinned against
    "operators.bpe": {
        "_encode_word", "bpe_decode", "bpe_decode_col", "bpe_encode", "bpe_encode_udf",
        "bpe_frozen_oracle_exprs", "bpe_token_count", "train_bpe", "train_bpe_from_word_freq",
    },
    "operators.quality_clf": {
        "load_quality_classifier", "train_quality_classifier", "train_term_weight_classifier",
    },
    # test reference: folded rows kept for the oracle diff and plan checks
    "queries.lineage_q": {"g3_posexplode"},
    "queries.multimodal_q": {"mm_frame_sample_plan"},
    "operators.multimodal": {
        "frame_sample_plan", "synthetic_media",
        # next deletion (item 4): the PNG/GIF/PNM/WAV codecs (20 tests)
        "_decode_gif", "_decode_png", "_decode_pnm", "_decode_wav", "_encode_gif",
        "_encode_png", "_gif_lzw_decode", "_png_unfilter", "resize_nearest",
        # next deletion (item 4): the MP4 track reader, with h264 (9 tests)
        "_mp4_children", "_mp4_top_boxes", "_mp4_walk", "_parse_mp4_fragments",
        "decode_video_frames", "mp4_avcc_config", "mp4_sample_codec",
        "mp4_sync_samples", "parse_mp4_samples", "synthetic_mp4",
    },
    # paper surface: the reference's E2 store, seed vocabulary and named
    # stages (S6, W1/W2, F4, V1-V4) as DataFrame forms of the column
    # programs the scan runs
    "operators.vector": {"get_or_create_default_store"},
    "ontology": {"ontology_terms_df"},
    "operators.upsert": {"edge_upsert"},
    "operators.dedup": {
        "latest_wins",
        # next deletion: ungraded near-dup variants (3 tests)
        "lsh_candidate_pairs", "winnow_near_dup_pairs",
    },
    "pipelines.scan": {"dedupe_first_wins_by_url", "filter_date_window"},
    "operators.validate": {"split_routes", "with_route", "with_validation"},
    "functions.normalize": {"normalize_items"},
    # next deletion: the BM25 index lifecycle (19 tests)
    "operators.retrieval": {
        "_record_historical_ref", "_swap_in", "_write_batch", "apply_changes_to_bm25_index",
        "bm25_index_append", "bm25_index_compact", "bm25_index_delete", "bm25_search",
        "committed_batches", "historical_refs", "write_bm25_index",
    },
    # next deletion: the sketch merges, KMV and DDSketch (16 tests)
    "operators.sketches": {
        "_gamma", "_kmv_u", "cm_merge", "dd_merge", "dd_merge_agg", "dd_partials",
        "dd_psi", "dd_quantile", "hll_distinct", "hll_merge", "kmv_estimate",
        "kmv_intersection", "kmv_jaccard", "kmv_merge", "kmv_merge_agg", "kmv_partials",
    },
    # next deletion: corpus mixing and budgets (20 tests)
    "operators.sampling": {"hash_sample", "mix_corpus", "select_by_budget", "temperature_weights"},
    # next deletion: ungraded operator variants (23 tests)
    "operators.asof": {"asof_join_bucketed"},
    "operators.decontam": {"contamination_report"},
    "operators.fuzzy": {"fuzzy_join"},
    "operators.profile": {"_flatten_pcts", "_metrics", "profile_by", "profile_corpus"},
    "operators.skew": {"salted_join", "two_stage_agg"},
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: Path, package: str) -> set[str]:
    """Dotted names the import statements in ``path`` name, resolving
    relative imports against ``package``. ``from a import b`` names
    both ``a`` and ``a.b``; the caller keeps the names that are
    modules."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                anchor = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{anchor}.{base}" if base else anchor
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _reached(mods: dict[str, Path]) -> set[str]:
    todo = [f"{PKG}.{m}" for m in ROOT_MODULES]
    for script in ROOT_SCRIPTS:
        todo.extend(_imports(REPO / script, ""))
    seen: set[str] = set()
    while todo:
        parts = todo.pop().split(".")
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        for i in range(1, len(parts) + 1):
            name = ".".join(parts[:i])
            if name in mods and name not in seen:
                seen.add(name)
                is_pkg = mods[name].name == "__init__.py"
                todo.extend(_imports(mods[name], name if is_pkg else name.rpartition(".")[0]))
    return seen


def test_only_the_pinned_modules_are_unreached():
    mods = _package_modules()
    missing = [m for m in ROOT_MODULES if f"{PKG}.{m}" not in mods]
    missing += [s for s in ROOT_SCRIPTS if not (REPO / s).exists()]
    assert not missing, f"walk roots not found: {missing}"
    unreached = {m.removeprefix(f"{PKG}.") for m in set(mods) - _reached(mods)}
    assert unreached == UNREACHED


def _names(nodes) -> set[str]:
    """Every name the nodes mention: bare names, attribute names and
    import aliases (``from a import b as c`` names ``b`` and ``c``)."""
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.update({n.name.rpartition(".")[2], n.asname or n.name})
    return out


def _unreached_functions(mods: dict[str, Path]) -> dict[str, set[str]]:
    reached_mods = _reached(mods)
    roots = {f"{PKG}.{m}" for m in ROOT_MODULES}
    bodies: dict[tuple[str, str], set[str]] = {}
    todo: set[tuple[str, str]] = set()
    names: set[str] = set()
    for script in ROOT_SCRIPTS:
        names |= _names([ast.parse((REPO / script).read_text())])
    for mod, path in mods.items():
        outer = []
        for node in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                outer.append(node)
                continue
            key = (mod.removeprefix(f"{PKG}."), node.name)
            bodies[key] = _names(node.body)
            # decorators, defaults and annotations run at module level
            outer += [*node.decorator_list, node.args, *filter(None, [node.returns])]
            if "register" in _names(node.decorator_list) or (
                mod in roots and not node.name.startswith("_")
            ):
                todo.add(key)
        if mod in reached_mods:
            names |= _names(outer)
    reached: set[tuple[str, str]] = set()
    while todo:
        for key in todo:
            reached.add(key)
            names |= bodies[key]
        todo = {k for k in bodies if k not in reached and k[1] in names}
    unreached: dict[str, set[str]] = {}
    for mod, fn in set(bodies) - reached:
        if mod not in CODEC_MODULES:
            unreached.setdefault(mod, set()).add(fn)
    return unreached


def test_only_the_pinned_functions_are_unreached():
    assert _unreached_functions(_package_modules()) == UNREACHED_FUNCTIONS
