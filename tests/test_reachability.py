"""Dead-code guard: every public top-level def in afspark/ is reached from
a production root, or is listed in ALLOWED with the reason it stays.

Pure ``ast``; no SparkSession.  Roots are every file under jobs/, tools/
and perfbench/, plus bench.py, __spark_entry__.py and every ``q_*``
registry query in afspark/entry_queries.py.  A body reaches every
top-level afspark def or module-level table whose name it mentions (as a
bare name, an attribute or an imported alias), so tables such as
``kernels.FEATURES`` pass reachability on to their entries.  Other
module-level statements run on import and count as roots.  Names are
matched without resolving modules, which over-approximates: of two defs
with one name, reaching either reaches both.

ALLOWED is ROADMAP aim 2's "delete it or justify it here" list.  An
entry that is no longer needed (the def is gone or now reached) fails
too, so the list cannot go stale.
"""

import ast
from functools import cache
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "afspark"
ROOT_DIRS = ("jobs", "tools", "perfbench")
ROOT_FILES = ("bench.py", "__spark_entry__.py")

STREAM_TWIN = "Structured Streaming twin of {}, parity-tested in test_streaming"

ALLOWED = {
    # streaming: no job runs a stream; each operator is pinned to its batch form
    "streaming.stream_dedup.streaming_exact_dedup":
        "Structured Streaming exact dedup with state across micro-batches, "
        "tested in test_streaming",
    "streaming.stream_ewma.streaming_ewma": STREAM_TWIN.format("tsanalytics.ewma"),
    "streaming.stream_ewma.streaming_counter_increase":
        STREAM_TWIN.format("tsanalytics.counter_increase"),
    "streaming.stream_ewma.streaming_holt": STREAM_TWIN.format("tsanalytics.holt_linear"),
    "streaming.stream_ewma.streaming_holt_winters":
        STREAM_TWIN.format("tsanalytics.holt_winters_fit"),
    "streaming.stream_m4.stream_m4": STREAM_TWIN.format("lttb.m4_downsample"),
    "streaming.stream_recrawl.streaming_recrawl_deltas":
        STREAM_TWIN.format("recrawl.recrawl_deltas"),
    "streaming.stream_score.streaming_score": STREAM_TWIN.format("kernels.score_local"),
    "streaming.stream_sessions.stream_session_stats":
        STREAM_TWIN.format("sessions.session_stats"),
    "streaming.stream_sliding.stream_sliding_distinct":
        STREAM_TWIN.format("distinct.sliding_distinct"),
    "streaming.stream_tier.stream_to_tier_store":
        "streaming entrypoint into the tier store; run end to end with a "
        "restart in test_streaming",
    # reference kernels and their test-fixture generators
    "functions.kernels.pressure":
        "reference utils.jl pressure conversion; the Score preprocess hook in tests",
    "functions.alphastable.rand_alpha_stable":
        "reference CMS sampler; generates the skewed draws the full "
        "alpha-stable fit recovers",
    "functions.alphastable.rand_symmetric_alpha_stable":
        "reference CMS sampler; generates the Myriad and AlphaStableStats "
        "kernel fixtures",
    "operators.windows.num_windows":
        "reference window-count arithmetic; sizes Score test expectations",
    "operators.score.score_wide":
        "pivot of the long Score table to one column per feature",
    # library operators whose registry query inlines an oracle-shaped twin
    "operators.dedup.simhash_near_pairs":
        "64-bit scale form of q_simhash_near_pairs (which runs on the 16-bit hash)",
    "operators.dedup.embedding_neardup_pairs":
        "LSH scale form of q_embedding_neardup_pairs (which brute-forces a subset)",
    "operators.sessions.session_stats":
        "batch twin the streaming sessions operator is tested against",
    "operators.text.token_stats": "library form of q_token_stats",
    "operators.text.fingerprint": "near-exact dedup key; tested with the dedup operators",
    "operators.sketch.cms_merge":
        "composes count-min sketches across spans; tested == one build",
    "operators.sax.sax_words": "word form of the per-frame SAX letters q_sax_6h returns",
    "operators.lttb.lttb": "LTTB downsample operator; the registry serves M4 instead",
    "operators.lttb.lttb_numpy": "local numpy twin the LTTB operator is tested against",
    "operators.hdrsketch.hdr_refresh_incremental":
        "incremental refresh of the HDR sketch tier, tested == full rebuild",
    # storage layer: page layout, z-order clustering and manifest
    "sources.pages.write_pages_table": "pages writer with the partitioned layout",
    "sources.pages.read_pages_table": "pages reader for write_pages_table's layout",
    "sources.pages.derive_samples_sql":
        "pure-Catalyst twin of derive_samples for oracle and plan comparisons",
    "sources.zorder.quantize": "z-order clustering step (column -> grid cell)",
    "sources.zorder.cluster_zorder":
        "z-order clustering for data skipping; tested with its pruning stats",
    "sources.zorder.file_envelopes": "per-file footer min/max, measures clustering",
    "sources.zorder.skipping_fraction":
        "fraction of files a pruner skips, measures clustering",
    "sources.manifest.snapshots": "manifest commit history reader",
    "sources.manifest.consume_incremental": "crash-safe exactly-once manifest consumer",
    # similarity and multimodal scale paths
    "operators.similarity.write_ivf_index": "persists the IVF index partitioned by cell",
    "operators.similarity.read_ivf_index": "reads write_ivf_index's layout",
    "operators.similarity.ivf_topk_distributed":
        "ivf_topk for query sets too large to collect to the driver",
    "operators.similarity.train_codebook_distributed":
        "k-means over the full corpus, for corpora a driver sample misrepresents",
    "operators.multimodal.media_from_pages":
        "multimodal plumbing: pages as media payloads",
    "operators.multimodal.decode_media": "multimodal plumbing: decode (Pillow-gated)",
    "operators.multimodal.media_features": "multimodal plumbing: per-media features",
    "operators.multimodal.frame_sample": "multimodal plumbing: video frame sampling",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        t = type(n)
        if t is ast.Name:
            out.add(n.id)
        elif t is ast.Attribute:
            out.add(n.attr)
        elif t is ast.alias:
            out.add(n.name.rsplit(".", 1)[-1])
    return out


@cache
def _scan():
    """(public defs as {qualified name: def name}, reached names)."""
    nodes: dict[str, list[ast.AST]] = {}
    public: dict[str, str] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                nodes.setdefault(st.name, []).append(st)
                if not st.name.startswith("_"):
                    public[f"{module}.{st.name}"] = st.name
                if module == "entry_queries" and st.name.startswith("q_"):
                    roots.add(st.name)
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            nodes.setdefault(n.id, []).append(st)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _names(st)
    files = [REPO / f for f in ROOT_FILES]
    files += [p for d in ROOT_DIRS for p in sorted((REPO / d).rglob("*.py"))]
    for path in files:
        roots |= _names(ast.parse(path.read_text()))

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in nodes.get(name, ()):
            todo.extend(_names(node) - reached)
    return public, reached


def test_every_public_def_is_reached_or_allowed():
    public, reached = _scan()
    dead = sorted(
        q for q, name in public.items() if name not in reached and q not in ALLOWED
    )
    assert not dead, (
        "public afspark defs no job, tool, bench or registry query reaches; "
        f"delete them or add a one-line reason to ALLOWED: {dead}"
    )


def test_allowlist_is_current():
    public, reached = _scan()
    stale = sorted(q for q in ALLOWED if q not in public or public[q] in reached)
    assert not stale, f"ALLOWED entries that are gone or now reached: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())
