"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock over the headline set; per-query
seconds are listed under ``queries``. Each query materializes fully
(count + a cheap collect of the head) so lazy plans can't cheat.
"""

from __future__ import annotations

import json
import os
import sys
import time

from nextbus2pg_spark.operators.scale import release_cached_rdds
from nextbus2pg_spark.plans import QUERIES
from nextbus2pg_spark.session import get_spark

#: Headline set: one per operator family — scans, joins, window top-1,
#: heavy agg, sessionization, dedup (exact + LSH), similarity, text,
#: media (Arrow/mapInPandas decode + banded hamming pairing), and the
#: curation family (line dedup, chunking, language rebalancing).
#: Vintage subsets (frozen): the headline set has grown each round
#: (13 → 22 → …), which makes the raw total incomparable round-over-
#: round. bench.py therefore also emits a subtotal per FROZEN vintage
#: so BENCH_r{N}.json deltas are readable without hand-computation:
#: ``subtotal_r3_set`` = the original 13 queries benched since round 3;
#: ``subtotal_r4_set`` = the 9 queries added in round 4. New queries
#: added in round 5+ appear in the total and their own vintage field
#: but never move between vintages.
R3_SET = [
    "q_flagship_latest", "q_tpch_q1", "q_join_broadcast",
    "q_top1_per_group", "q_window_running", "q_sessionize", "q_asof_join",
    "q_dedup_exact", "q_minhash_lsh", "q_cosine_topk_vec",
    "q_token_count", "q_doc_fingerprint", "q_media_phash",
]
R4_SET = [
    "q_line_dedup", "q_doc_chunks", "q_language_balance",
    "q_substring_dedup", "q_interval_join", "q_url_canon",
    "q_histogram_quantile", "q_heavy_hitters", "q_oov_ratio",
]
R5_SET = [
    "q_bm25_topk",
    "q_bpe_token_count",
    "q_leakage_safe_split",
]
R6_SET = [
    "q_url_psl",
    "q_corpus_assembly",
    "q_pagerank",
    "q_resample_ffill",
    "q_funnel",
    "q_retention",
    "q_label_propagation",
    "q_rolling_anomaly",
]
#: Round-7 additions (populated as the round's new operators land).
R7_SET: list[str] = [
    "q_triangle_count",
    "q_bfs_hops",
    "q_kcore",
    "q_mad_outliers",
    "q_ks_drift",
    "q_cohens_kappa",
    "q_fuzzy_join",
    "q_cusum",
    "q_holt",
    "q_top_paths",
    "q_hits",
    "q_gap_detect",
    "q_profile_drift",
    "q_modularity",
    "q_assortativity",
    "q_welch_t",
    "q_rank_auc",
    "q_spearman",
    "q_retrieval_eval",
]

#: Round-8 additions: the real-codec media pipeline (PNG encode +
#: decode + true dHash dominate — an Arrow/zlib throughput probe) and
#: the new stats/graph surface.
R8_SET: list[str] = [
    "q_media_decode",
    "q_media_dhash",
    "q_adjusted_rand",
    "q_bh_fdr",
    "q_frequent_pairs",
    "q_link_prediction",
    "q_containment_pairs",
    "q_semantic_dedup",
    "q_holt_winters",
    "q_theil_sen",
]

#: Round-9 additions: the baseline-JPEG decode pipeline (pure-Python
#: Huffman entropy decode + vectorized IDCT — the throughput probe for
#: the new codec path), the cross-format PNG/JPEG dHash pairing, the
#: DSIR importance sampler (token-stream explode + bounded-bucket
#: aggregates), and the JL random projection (broadcast map pass).
R9_SET: list[str] = [
    "q_media_decode_jpeg",
    "q_media_decode_gif",
    "q_media_cross_format",
    "q_media_audio",
    "q_media_video_frames",
    "q_dsir_sample",
    "q_random_projection",
    "q_warc_ingest",
]

#: Round-10 additions: the progressive-JPEG (SOF2) decode chain and
#: the crawl-to-corpus capstone (WARC ingest -> gopher filter -> exact
#: + MinHash dedup -> CCNet buckets -> head+middle select).
R10_SET: list[str] = [
    "q_media_decode_jpeg_prog",
    "q_media_gif_frames",
    "q_media_exif",
    "q_cdx_manifest",
    "q_cdx_delta",
    "q_c4_clean",
    "q_media_vad",
    "q_media_scene_cuts",
    "q_html_to_text",
    "q_robots_frontier",
    "q_crawl_to_corpus",
]

#: Round-11 additions: the crawl-fidelity seam — declared-charset
#: decode and two-snapshot revisit resolution (the Content-Encoding /
#: charset wire classes also run inside q_warc_ingest's existing
#: timing).
R11_SET: list[str] = [
    "q_warc_charset",
    "q_warc_revisit",
]

#: Round-12 additions: the sitemap frontier leg (gzip-content decode +
#: from_xml parse; the br-quarantine and content_encoding wire classes
#: run inside q_warc_ingest's / q_crawl_to_corpus's existing timings).
R12_SET: list[str] = [
    "q_sitemap_frontier",
]

#: Round-13 additions: the index-builder with CC-interoperable
#: digests (two captures per document across shipped/built archives)
#: and the redirect-chain seam (Location parse + edge-subset closure +
#: final-content link).
R13_SET: list[str] = [
    "q_cdx_build",
    "q_redirect_chain",
    "q_html_entities",
]

#: Round-14 set, benched EARLY: these fixtures shipped late in round
#: 13 without a CORRECTNESS row (plans.derived_order puts never-checked
#: queries at the head of the checked window), so their timings get a
#: cross-round history before their first check — outlink
#: extraction, the fetch-once redirect manifest, one frontier-expansion
#: iteration, and the Crawl-delay politeness extraction.
R14_SET: list[str] = [
    "q_extract_links",
    "q_fetch_once",
    "q_frontier_expand",
    "q_robots_crawl_delays",
    "q_anchor_text",
    "q_url_trap",
    "q_robots_sitemaps",
]

#: The iterative-graph family is TIMED FIRST, in a near-fresh session
#: (round-12 verdict item 3): its fixed-iteration, multi-shuffle,
#: checkpoint-heavy plans are the ones end-of-session JVM/shuffle-state
#: pollution inflates (the q_triangle_count lesson — 1.3x idle vs >5x
#: late-session at the same commit), and the driver-window q_pagerank
#: number doubled normalized across r10/r11 while idle-box stamps and
#: code-identical worktree A/Bs stayed flat. Fronting the family makes
#: the driver-window measurement see the same session state the
#: idle-box stamps do; ``iter_*_calibration_sec`` are stamped
#: IMMEDIATELY after the family so its norms can be computed against
#: calibration from the adjacent session state rather than end-of-run.
#: Membership in HEADLINE/vintage sets is unchanged — this is purely
#: execution order.
ITER_GRAPH_FIRST = [
    "q_pagerank",
    "q_hits",
    "q_modularity",
    "q_label_propagation",
    "q_corpus_assembly",
    "q_triangle_count",
    "q_bfs_hops",
    "q_kcore",
]

HEADLINE = [
    "q_flagship_latest",
    "q_tpch_q1",
    "q_join_broadcast",
    "q_top1_per_group",
    "q_window_running",
    "q_sessionize",
    "q_asof_join",
    "q_dedup_exact",
    "q_minhash_lsh",
    "q_cosine_topk_vec",
    "q_token_count",
    "q_doc_fingerprint",
    "q_media_phash",
    "q_line_dedup",
    "q_doc_chunks",
    "q_language_balance",
    "q_substring_dedup",
    "q_interval_join",
    "q_url_canon",
    "q_histogram_quantile",
    "q_heavy_hitters",
    "q_oov_ratio",
    "q_bm25_topk",
    "q_bpe_token_count",
    "q_leakage_safe_split",
    "q_url_psl",
    "q_corpus_assembly",
    "q_pagerank",
    "q_resample_ffill",
    "q_funnel",
    "q_retention",
    "q_label_propagation",
    "q_rolling_anomaly",
    *R7_SET,
    *R8_SET,
    *R9_SET,
    *R10_SET,
    *R11_SET,
    *R12_SET,
    *R13_SET,
    *R14_SET,
]


# --- calibration recipe (THE single source of truth) -------------------
# tests/bench_ratio_probe.py imports these so the pinned-ratio gate and
# the headline bench always measure the same quantities; change the
# recipe here and both surfaces move together.


def probe_median(thunk, runs: int = 5) -> float:
    """Median of N timed runs after one untimed warmup."""
    thunk()  # warmup
    xs = []
    for _ in range(runs):
        t0 = time.perf_counter()
        thunk()
        xs.append(time.perf_counter() - t0)
    xs.sort()
    return xs[len(xs) // 2]


def sched_probe(spark) -> None:
    """A 32-task count over a tiny range — task launch + scheduling +
    result fetch with ~zero compute; its wall time IS the per-job
    fixed overhead short queries pay."""
    spark.range(0, 32_000, 1, 32).count()


def scan_probe(spark, sf_dir: str) -> None:
    """Full-column parquet scan + partial agg of the SF's largest
    table — IO + decode + agg, the data path medium queries ride."""
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).selectExpr(
        "sum(l_extendedprice)", "sum(l_quantity)",
        "sum(l_discount)", "count(*)",
    ).collect()


def normalized_cost(wall: float, cal_sched: float, cal_scan: float) -> float:
    """PERF.md "Calibration & normalization": subtract one job's fixed
    overhead, then express the rest in units of the host's data-path
    speed."""
    return max(wall - cal_sched, 0.0) / cal_scan


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("nextbus2pg-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Derive a readable sf value from the directory name.
    base = os.path.basename(sf_dir.rstrip("/"))
    sf = float(base.removeprefix("sf")) if base.startswith("sf") else base

    # Untimed warmup: run every headline plan once at the smallest SF
    # first. This JIT-compiles the generated code for each plan shape
    # (whole-stage codegen is per-plan, and large generated classes cost
    # ~2x on first execution) without touching the data being timed —
    # standard steady-state benchmarking practice. Timed runs below are
    # single cold-data executions at the target SF.
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            QUERIES[name](spark, warm_dir).count()
        except Exception:
            pass  # warmup is best-effort; the timed run will surface errors
    release_cached_rdds(spark)

    # Median of N runs per query (default 5): single-run wall time on a
    # shared machine varies ±20%, and the first executions of a plan at
    # the target SF additionally pay JIT compilation of the AQE-chosen
    # physical plan (which differs from the warmup SF's plan — observed
    # first-run 4.9s vs steady-state 2.0s on minhash-LSH). Five runs put
    # the median reliably in steady state; the cold runs still bound the
    # max.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings: dict[str, float] = {}

    def _time_query(name: str) -> None:
        fn = QUERIES[name]
        samples = []
        n = 0
        for _ in range(runs):
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
            # Release the run's localCheckpoint blocks before the next
            # run: leaked checkpoints from completed executions inflate
            # GC pressure and wall-time variance (operators/scale.py
            # release_cached_rdds). Runs after the first therefore time
            # the same work as a fresh session would.
            release_cached_rdds(spark)
        print(f"# samples {name}: {[round(s, 2) for s in samples]}",
              file=sys.stderr)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        print(f"# {name}: {timings[name]}s median of {runs} ({n} rows)",
              file=sys.stderr)

    # Iterative-graph family first (see ITER_GRAPH_FIRST), then its
    # adjacent calibration stamp, then everything else in HEADLINE
    # order.
    iter_first = [n for n in ITER_GRAPH_FIRST if n in HEADLINE]
    for name in iter_first:
        _time_query(name)
    iter_cal_sched = probe_median(lambda: sched_probe(spark))
    iter_cal_scan = probe_median(lambda: scan_probe(spark, sf_dir))
    print(
        f"# iter-family adjacent calibration: sched {iter_cal_sched:.3f}s"
        f" scan {iter_cal_scan:.3f}s",
        file=sys.stderr,
    )
    # Per-vintage adjacent sched stamps (round-13 verdict item 6): the
    # driver-window session drifts WITHIN a run (the r13 32-core session
    # manufactured 0.16-0.31x phantom regressions on byte-identical
    # code), so each vintage family gets a sched probe stamped right
    # after its last query — the judge can normalize a family against
    # the session state that actually timed it, not the end-of-run
    # calibration. sched-only and 3 runs: ~0.5 s per stamp, never
    # attributed to any query's timing.
    vintage_of = {}
    for vname, vset in (
        ("r3", R3_SET), ("r4", R4_SET), ("r5", R5_SET), ("r6", R6_SET),
        ("r7", R7_SET), ("r8", R8_SET), ("r9", R9_SET), ("r10", R10_SET),
        ("r11", R11_SET), ("r12", R12_SET), ("r13", R13_SET),
        ("r14", R14_SET),
    ):
        for n in vset:
            vintage_of[n] = vname
    family_cals: dict[str, float] = {}
    rest = [n for n in HEADLINE if n not in ITER_GRAPH_FIRST]
    for i, name in enumerate(rest):
        _time_query(name)
        v = vintage_of.get(name)
        nxt = vintage_of.get(rest[i + 1]) if i + 1 < len(rest) else None
        if v is not None and nxt != v:
            cal = probe_median(lambda: sched_probe(spark), 3)
            family_cals[f"sched_cal_{v}_adj"] = round(cal, 3)
            print(f"# {v}-family adjacent sched cal: {cal:.3f}s",
                  file=sys.stderr)

    # Machine-speed calibration, three Spark-shaped components (round-
    # over-round deltas on shared/virtualized boxes can be dominated by
    # the host, not the code — observed: the same commit benching 2-4x
    # apart across sessions). Each probe is constant work with an
    # identical plan every round; median of N after one warmup.
    #
    # - cpu: pure-codegen JVM compute (sum over a 200M range — no IO,
    #   no shuffle). Tracks raw CPU speed ONLY — dividing a sub-0.5s
    #   query (which is scheduler/JVM fixed overhead, not CPU) by this
    #   constant manufactures phantom regressions; kept for continuity.
    # - sched: a 32-task count over a tiny range — task launch +
    #   scheduling + result fetch with ~zero compute. Its wall time IS
    #   the per-job fixed overhead the short headline queries pay.
    # - scan: full-column parquet scan + partial agg of the benched
    #   SF's largest table (lineitem) — IO + decode + agg, the data
    #   path the medium queries ride. Constant work at a fixed SF.
    #
    # Normalization rule (PERF.md "Calibration & normalization"):
    #   norm(q) = max(t_q - sched, 0) / scan
    # i.e. subtract one job's fixed overhead, then express the rest in
    # units of the host's data-path speed. Per-vintage normalized
    # subtotals below apply exactly this rule.
    cal_cpu = probe_median(
        lambda: spark.range(200_000_000).selectExpr("sum(id * 2)").collect(),
        3,
    )
    cal_sched = probe_median(lambda: sched_probe(spark))
    cal_scan = probe_median(lambda: scan_probe(spark, sf_dir))

    def _norm(names) -> float:
        return round(
            sum(
                normalized_cost(timings[n], cal_sched, cal_scan)
                for n in names
                if n in timings
            ),
            3,
        )

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpu_calibration_sec": round(cal_cpu, 3),
        "sched_calibration_sec": round(cal_sched, 3),
        "scan_calibration_sec": round(cal_scan, 3),
        # stamped immediately after the front-run iterative family —
        # normalize that family against THESE, not the end-of-run pair
        "iter_sched_calibration_sec": round(iter_cal_sched, 3),
        "iter_scan_calibration_sec": round(iter_cal_scan, 3),
        "subtotal_r3_set": round(
            sum(timings[n] for n in R3_SET if n in timings), 3
        ),
        "subtotal_r4_set": round(
            sum(timings[n] for n in R4_SET if n in timings), 3
        ),
        "subtotal_r5_set": round(
            sum(timings[n] for n in R5_SET if n in timings), 3
        ),
        "subtotal_r6_set": round(
            sum(timings[n] for n in R6_SET if n in timings), 3
        ),
        "subtotal_r3_set_norm": _norm(R3_SET),
        "subtotal_r4_set_norm": _norm(R4_SET),
        "subtotal_r5_set_norm": _norm(R5_SET),
        "subtotal_r6_set_norm": _norm(R6_SET),
        "subtotal_r7_set": round(
            sum(timings[n] for n in R7_SET if n in timings), 3
        ),
        "subtotal_r7_set_norm": _norm(R7_SET),
        "subtotal_r8_set": round(
            sum(timings[n] for n in R8_SET if n in timings), 3
        ),
        "subtotal_r8_set_norm": _norm(R8_SET),
        "subtotal_r9_set": round(
            sum(timings[n] for n in R9_SET if n in timings), 3
        ),
        "subtotal_r9_set_norm": _norm(R9_SET),
        "subtotal_r10_set": round(
            sum(timings[n] for n in R10_SET if n in timings), 3
        ),
        "subtotal_r10_set_norm": _norm(R10_SET),
        "subtotal_r11_set": round(
            sum(timings[n] for n in R11_SET if n in timings), 3
        ),
        "subtotal_r11_set_norm": _norm(R11_SET),
        "subtotal_r12_set": round(
            sum(timings[n] for n in R12_SET if n in timings), 3
        ),
        "subtotal_r12_set_norm": _norm(R12_SET),
        "subtotal_r13_set": round(
            sum(timings[n] for n in R13_SET if n in timings), 3
        ),
        "subtotal_r13_set_norm": _norm(R13_SET),
        "subtotal_r14_set": round(
            sum(timings[n] for n in R14_SET if n in timings), 3
        ),
        "subtotal_r14_set_norm": _norm(R14_SET),
    }
    # Last in insertion order ON PURPOSE: the driver keeps only the
    # final ~2000 chars of output, so the tail of the stderr full
    # payload is the one fragment of it the round artifacts preserve —
    # the per-vintage adjacent stamps are the part worth preserving.
    payload.update(family_cals)
    # Full payload for humans/PERF.md (stderr never reaches the parser).
    print("# full: " + json.dumps(payload), file=sys.stderr)
    print(emit_summary(payload))
    spark.stop()


#: The external driver keeps only the LAST 2000 characters of stdout
#: and json-parses the final complete line it finds there. Round 8's
#: summary line outgrew that buffer (63 queries), so BENCH_r08.json
#: recorded ``"parsed": null`` — the line must stay comfortably under
#: the buffer, forever, no matter how the headline set grows.
MAX_SUMMARY_BYTES = 1900


def emit_summary(
    payload: dict,
    vintage_sets: "list[tuple[str, list[str]]] | None" = None,
) -> str:
    """Render the driver-facing summary as ONE compact JSON line of at
    most ``MAX_SUMMARY_BYTES`` bytes.

    Shrink ladder (applied only as needed, in order; the contract
    fields metric/value/unit/queries/sf are never dropped). Round-13
    verdict item 4: per-query VISIBILITY outranks every derived field
    — round 13's ladder retired 27 per-query rows while still carrying
    subtotal/norm fields, which blinded the driver's per-query
    comparison. The reordered ladder therefore sheds derived fields
    first and rounds to 2 decimals BEFORE any vintage is retired:

    1. compact separators (no whitespace);
    2. drop the ``subtotal_*_norm`` derived fields;
    3. round per-query seconds to 2 decimals (subtotals intact);
    4. drop the ``subtotal_*`` vintage fields;
    5. RETIRE the OLDEST vintages' per-query detail, oldest first —
       each retired vintage's ``subtotal_r{N}_set`` field is re-added
       (the frozen-vintage subtotal IS the cross-round signal those
       entries carry) and the retired vintages are named in
       ``queries_retired``;
    6. drop the calibration fields;
    7. drop everything but the contract fields;
    8. last resort: truncate the queries dict slowest-first with a
       loud ``queries_truncated`` flag. ``value`` always covers the
       FULL set. The full payload always goes to stderr.

    Sizing note (committed with the round-14 change): the full
    94-query dict with exact names is ~2.2 KB even at 2 decimals —
    the names alone are ~1.35 KB — so it can NEVER fit the driver's
    2000-char tail buffer; renaming keys would break the driver's
    by-name per-query comparison outright. The ladder instead
    guarantees the maximal prefix of recent vintages stays itemized
    (measured: rungs 1-5 keep every vintage from r4 up at 2 dp).
    """
    core_keys = ("metric", "value", "unit", "queries", "sf")
    vintage_sets = vintage_sets if vintage_sets is not None else [
        ("r3", R3_SET), ("r4", R4_SET), ("r5", R5_SET),
        ("r6", R6_SET), ("r7", R7_SET), ("r8", R8_SET),
        ("r9", R9_SET), ("r10", R10_SET), ("r11", R11_SET),
        ("r12", R12_SET),
        # NEVER list the newest two vintages (r13/r14) here — the
        # retire ladder may only drop settled history.
    ]

    def render(d: dict) -> str:
        return json.dumps(d, separators=(",", ":"))

    candidates = []
    candidates.append(dict(payload))
    no_norm = {
        k: v
        for k, v in payload.items()
        if not k.endswith("_norm") and not k.startswith("sched_cal_")
    }
    candidates.append(no_norm)
    coarse = dict(no_norm)
    coarse["queries"] = {
        k: round(v, 2) for k, v in no_norm["queries"].items()
    }
    candidates.append(coarse)
    no_subtotal = {
        k: v for k, v in coarse.items() if not k.startswith("subtotal_")
    }
    candidates.append(no_subtotal)
    # Structured retirement: oldest vintage first; every retired
    # vintage keeps (re-gains) its frozen subtotal field.
    retired: "list[str]" = []
    q = dict(no_subtotal["queries"])
    kept_subtotals: dict = {}
    for vname, vset in vintage_sets:
        dropped = [n for n in vset if n in q]
        if not dropped:
            continue
        for n in dropped:
            del q[n]
        retired.append(vname)
        skey = f"subtotal_{vname}_set"
        if skey in payload:
            kept_subtotals[skey] = payload[skey]
        cand = dict(no_subtotal)
        cand["queries"] = dict(q)
        cand.update(kept_subtotals)
        cand["queries_retired"] = list(retired)
        candidates.append(cand)
    slim = candidates[-1]  # most-retired
    no_cal = {
        k: v for k, v in slim.items() if not k.endswith("_calibration_sec")
    }
    candidates.append(no_cal)
    core = {k: no_cal[k] for k in core_keys if k in no_cal}
    if "queries_retired" in no_cal:
        core["queries_retired"] = no_cal["queries_retired"]
    candidates.append(core)
    for cand in candidates:
        line = render(cand)
        if len(line.encode()) <= MAX_SUMMARY_BYTES:
            return line
    # Truncate slowest-first; 'value' keeps the full-set total.
    q = dict(core["queries"])
    for name in sorted(q, key=lambda n: -q[n]):
        del q[name]
        trunc = dict(core)
        trunc["queries"] = q
        trunc["queries_truncated"] = True
        line = render(trunc)
        if len(line.encode()) <= MAX_SUMMARY_BYTES:
            return line
    return render({k: core[k] for k in ("metric", "value", "unit", "sf")})


if __name__ == "__main__":
    main()
