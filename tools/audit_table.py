#!/usr/bin/env python3
"""Regenerate the living per-query audit table in PLANS.md.

Reads the committed bench artifacts (sf0.1 + sf1 full runs, plus any
skew A/B pairs) and rewrites everything between the AUDIT-BEGIN /
AUDIT-END markers in PLANS.md. Run after each round's artifacts land:

    python3 tools/audit_table.py \
        --sf01 bench_full_r12.json --sf1 bench_full_sf1_r12.json \
        --skew window=bench_sf1_windowskew_skew_r11.json:bench_sf1_windowskew_uniform_r11.json \
        --skew graph=bench_sf1_graphskew_skew_r12.json:bench_sf1_graphskew_uniform_r12.json

Notes (shape / regime annotations) live in NOTES below — update them
when a query's plan shape changes; the numbers always come from the
artifacts.
"""
import argparse
import json
import sys

# Shape / regime notes for queries whose scale story needs words.
# Everything else is adequately described by its ratios.
NOTES = {
    "d11_prefix_filter_join": "lossless PPJoin+; r14 adds the 256-bit token-bitmap residual (suffix-filter slot, Xiao 2008 s4) killing candidates before the pair shuffle AND the array verify - sf1 wall x0.22 of r13 (29.1 -> 6.4 s in the committed r14 artifact). r15 hot-shingle adversarial A/B (one near-universal prefix trigram, ~50M candidate pairs on ONE h60 key - gen_sf.py --hot-shingle): x1.21 raw / x1.41 canary-adj vs uniform, inside the x1.5 skew-residual bar; hash-green on the skew corpus (CORRECTNESS_d11skew_sf1_r15.json)",
    "d12_substring_dedup": "Lee et al. gram-hash spans; r14 caches the hashed gram table (the two branches each re-ran posexplode+md5) and bloom-guards the dup semi join - sf1 wall 23.3 -> 7.8 s (committed r14 artifact)",
    "p00_star_build": "the one-time shared star build (raw + 3 dims), charged to its own line since r14; p01-p05 run against the warm build",
    "p01_star_league_table": "scale-honest star pipeline: no global-id window, no SF-scaling broadcast (PlanQualitySpec-pinned); build cost on p00's line since r14",
    "s01_cosine_topk": "exact recall-calibration baseline over the FIXED 64-id query panel (r13): |Q|*N pairs, linear in corpus size; shared-persisted so s06 reuses it",
    "s06_ann_recall": "inherits s01's exact panel list by definition; approx legs run corpus-wide",
    "d05_embedding_neardup": "r15 retires the saturated-regime weak flag: d09-style N-adaptive extra sig bits (nbits = #{b: 4096*2^b < N}, per-table seeded planes) keep cell population linear in N - sf1 13.9 -> ~4.5 s, bucketing byte-identical through sf0.1 (nbits=0). Lossy-by-contract LSH recall trade (~0.96 at cos>=0.97 at the sf1 dial); oracle replays the dial verbatim. r14's dedupe-BEFORE-verify order kept",
    "d02_ngram_jaccard": "df-capped [2,20] inverted index; vacuous flag row on saturating corpora (r12)",
    "q66_pagerank": "Pregel-on-DataFrames, fixed-point integer; edges built once, per-superstep shuffle O(|V|) not O(|E|)",
    "q75_bfs_hops": "frontier propagation over the shared purchase graph",
    "q81_triangle_count": "degree-oriented wedge counting: sum outdeg^2 bounded by orientation",
    "d07_dup_clusters": "O(log n) star-contraction rounds over near-dup pairs",
    "q46_window_family": "two-phase window-free rebuild (r11): flat across SF, x1.01 under skew; costs ~0.6 s at sf0.1 vs the funnel form",
    "q74_forward_fill": "seam-stitched Locf: (key,gid)-bucketed windows, one fact exchange (plan-pinned r12)",
    "q85_linear_interp": "Locf.neighbors bidirectional carry, same shape (plan-pinned r12)",
    "q40_scd2_history": "naive per-key window BY MEASUREMENT (r12 A/B: stitched form is x4.8 worse here - shallow histories); Scd2.historyStitched is the proven deep-history path (hub probe: x1.57 better at 2M changes/key); x1.5-class skew residual accepted as the cheaper trade",
    "st19_stream_token_budget": "oracleOnly twin (Complete finite-replay of st20) - excluded from headline bench since r12",
    "st01_stream_hourly": "oracleOnly twin of st17",
    "st10_stream_sketch_cardinality": "oracleOnly twin of st21",
    "st11_stream_static_join": "oracleOnly twin of st25",
    "st13_stream_quantile_monitor": "oracleOnly twin of st22",
    "st14_stream_trending": "oracleOnly twin of st23",
    "s09_filtered_ann": "PRE-filtering: lang predicate pushed below candidate generation (plan-pinned)",
    "s10_hybrid_rrf": "RRF fusion: 64-slot capped postings + single-probe LSH; fusion join candidate-sized",
    "t25_bpe_apply_oov": "corpus apply = ONE equi-join; OOV fold bounded by vocab misses",
    "q67_bloom_lookup": "bloom build is the cost; probe is a scalar-subquery Filter",
    # round-13: one-line shape notes for every >4 s sf1 row (verdict #6)
    "m06_media_real_resize": "real javax.imageio decode->resize->re-encode per row (iterator mapPartitions); cost is linear decode work per row (x10.2 = row ratio)",
    "q83_equidepth_histogram": "two fact passes: ONE fused octile percentile agg + broadcast bucket assignment; q93 (r13) gates the KLL-sketch boundary swap for petabyte N. ADJUDICATED TRADE (r14->r15): exactOctiles is memoized per pass (graft.Memo) so q93 reuses it - a cold standalone q83 pays ~+0.26 s cache materialization at sf0.1 (0.73->0.99) and q93 gets -0.25 s back, suite-net-neutral and flat at sf1; kept because the 100 TB shape writes the boundary table once per corpus snapshot and feeds every histogram job from it",
    "p05_star_fact_player_match": "star fact build: broadcast dim joins + priority-window dedup, scale-honest (no global-id window)",
    "m03_media_framesample": "animated-GIF frame decode + deterministic frame sampling per row; linear decode cost",
    "s05_pq_encode": "one-Lloyd PQ train+encode: constant K*M codebook broadcast, per-row argmin fold (no N*K row explosion)",
    "t20_pretrain_recipe": "composed corpus-clean recipe: lang-ID/quality/dedup stages over one shared corpus pass",
    "st20_stream_token_budget_closed": "Append emit-on-window-close; loads the frozen tokenizer artifact (r13) - training cost lives on t23's line",
    "d03_minhash_lsh": "banded minhash signature equi-join; candidates bounded by band buckets, never a cross join",
    "st24_stream_neardup_windowed": "fingerprint keyed state per OPEN window only (horizon-bounded)",
    "st16_stream_full_outer_join": "stream-stream full outer, watermark-bounded join state; symmetric data-derived cutoff",
    "st12_stream_neardup": "keyed state = one long (min doc_id) per winnowing fingerprint",
    "s07_pq_adc_topk": "IVF-PQ ADC: all equi-joins (cell, then per-query code lookup table); panel-bounded probes (r13). Fixed 64-probe panel > old N/50~40 probes at sf0.1 (+0.7 s there); flat at sf1 - see Similarity.PANEL",
    "q71_basket_pairs": "pair explosion bounded by sum(basket_size^2), one hash exchange on the basket key",
    "s08_adc_rerank": "s07 shortlist then exact rerank touches |Q|*k' full-precision rows only. Fixed 64-probe panel > old N/50~40 probes at sf0.1 (+0.7 s there); flat at sf1 - see Similarity.PANEL",
    "m07_media_real_features": "real pixel-histogram feature extraction + cosine retrieval; linear decode cost",
    "t23_bpe_train": "the TRAINER line: K bounded argmax rounds over the word-frequency table; publishes the frozen artifact consumers load (r13)",
    "q93_equidepth_kll": "q83's petabyte boundary path: per-status KLL sketches merged for octiles, ONE shared fact assignment pass (64-row cross matrix), 4-eps within_bound gate",
    "q92_scd2_stitched_deep": "Scd2.historyStitched on its deep-history regime (8 hub keys, epoch-day segments), oracle = the naive global-lag SQL; r14 hot-hub A/B x1.15 raw (x1.33 canary-adj), day-segment bound holds",
    "st05_stream_dedup": "dropDuplicatesWithinWatermark: one state row per (user, type, day) key inside the watermark horizon",
    "m04_media_feature_search": "query-by-example media search: probe embedded by the same real featurizer, candidate join equi-keyed",
    "st08_transform_with_state": "transformWithState custom keyed processor; state bounded per key",
}


def qmap(path):
    with open(path) as f:
        d = json.load(f)
    return d.get("queries", {}), d


def errset(meta):
    return set(meta.get("errors", {}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf01", required=True)
    ap.add_argument("--sf1", required=True)
    ap.add_argument("--skew", action="append", default=[],
                    help="label=skew_artifact:uniform_artifact")
    ap.add_argument("--twins", help="bench_twins artifact (oracle-twin class, "
                    "listed after the production rows)")
    ap.add_argument("--prev", help="previous round's sf0.1 artifact: prints a "
                    "canary-drift-adjusted round-over-round delta (r13 verdict "
                    "#5 - replaces the per-round same-session A/B)")
    ap.add_argument("--noop", help="noop-mode artifact for the window-tail "
                    "class (SPARK_GRAFT_BENCH_MODE=noop): footnotes each "
                    "covered query with its full-materialization cost")
    ap.add_argument("--plans", default="PLANS.md")
    args = ap.parse_args()

    q01, m01 = qmap(args.sf01)
    q1, m1 = qmap(args.sf1)
    # a query that ERRORED in a run has no timing (Bench's round-9
    # discipline) but MUST stay visible here: an absent row reads as
    # "gone or fine", the exact silent-failure mode the errors map
    # exists to prevent
    errs = {n: "sf0.1" for n in errset(m01)}
    for n in errset(m1):
        errs[n] = errs.get(n, "") + ("+sf1" if n in errs else "sf1")
    skew = {}   # name -> (label, ratio)
    for spec in args.skew:
        label, pair = spec.split("=", 1)
        s_path, u_path = pair.split(":", 1)
        qs, _ = qmap(s_path)
        qu, _ = qmap(u_path)
        for name in qs:
            if name in qu and qu[name] > 0:
                skew[name] = (label, qs[name] / qu[name])

    # round-over-round drift (r13 verdict #5 / r14 verdict #7): with
    # --prev, each row also carries raw and canary-adjusted per-query
    # ratios so a host-speed swing never reads as a plan regression.
    # adjusted ratio = (now/prev) / (canary_now/canary_prev).
    qp, mp, canary_ratio, cpu_ratio = {}, {}, None, None
    if args.prev:
        qp, mp = qmap(args.prev)
        c_now, c_prev = m01.get("canary_sec"), mp.get("canary_sec")
        if c_now and c_prev:
            canary_ratio = c_now / c_prev
        # r14 verdict #2: the shuffle canary is blind to pure-CPU
        # drift, so decode-bound rows (the m-family: per-row
        # single-core javax.imageio codec work) divide by the CPU
        # canary ratio instead — when both artifacts carry one
        # (canary_cpu_sec landed in r15; older prevs fall back to the
        # shuffle divisor, labeled plain 'adj').
        cc_now, cc_prev = m01.get("canary_cpu_sec"), mp.get("canary_cpu_sec")
        if cc_now and cc_prev:
            cpu_ratio = cc_now / cc_prev

    # decode-bound family: per-row single-core codec work, adjusted by
    # the CPU canary (no other query family shares the m- prefix)
    def is_cpu_bound(n):
        return n.startswith("m")

    def prev_cell(n):
        a, p = q01.get(n), qp.get(n)
        if not (a and p and p > 0):
            return "-"
        raw = a / p
        if is_cpu_bound(n) and cpu_ratio:
            return f"x{raw:.2f} raw / x{raw / cpu_ratio:.2f} cpu-adj"
        if canary_ratio:
            return f"x{raw:.2f} raw / x{raw / canary_ratio:.2f} adj"
        return f"x{raw:.2f} raw"

    prev_col = bool(args.prev)
    # name tiebreak: rows missing an sf1 timing would otherwise keep
    # set-iteration order, which varies under Python hash randomization
    # and churns the committed table on regeneration
    names = sorted(set(q01) | set(q1) | set(errs),
                   key=lambda n: (-(q1.get(n) or 0), n))
    rows = []
    for n in names:
        a, b = q01.get(n), q1.get(n)
        fa = f"{a:.2f}" if a is not None else "-"
        fb = f"{b:.2f}" if b is not None else "-"
        ratio = f"x{b/a:.2f}" if a and b and a > 0 else "-"
        sk = f"x{skew[n][1]:.2f} ({skew[n][0]})" if n in skew else "-"
        note = NOTES.get(n, "")
        if n in errs:
            note = f"**ERRORED ({errs[n]})** " + note
        pv = f" {prev_cell(n)} |" if prev_col else ""
        rows.append(f"| {n} | {fa} | {fb} | {ratio} | {sk} |{pv} {note} |")

    if args.twins:
        qt, _ = qmap(args.twins)
        pad = " |" if prev_col else ""
        rows.append("| *oracle-twin class (Verify-gated; benched separately "
                    f"in `{args.twins}`)* | | | | |{pad} |")
        for n in sorted(qt, key=lambda n: (-qt[n], n)):
            rows.append(f"| {n} | {qt[n]:.2f} | - | - | - |{' - |' if prev_col else ''} "
                        f"{NOTES.get(n, 'oracleOnly twin')} |")

    drift_lines = []
    if args.prev:
        common = [n for n in q01 if n in qp]
        now_t = sum(q01[n] for n in common)
        prev_t = sum(qp[n] for n in common)
        raw = 100.0 * (now_t - prev_t) / prev_t if prev_t else 0.0
        line = (f"Round-over-round ({args.prev} -> {args.sf01}, "
                f"{len(common)} common queries): {prev_t:.1f} s -> {now_t:.1f} s "
                f"(raw {raw:+.1f}%)")
        c_now, c_prev = m01.get("canary_sec"), mp.get("canary_sec")
        if c_now and c_prev:
            adj_t = now_t * (c_prev / c_now)
            adj = 100.0 * (adj_t - prev_t) / prev_t if prev_t else 0.0
            line += (f"; host canary {c_prev:.2f} s -> {c_now:.2f} s, "
                     f"drift-adjusted {adj:+.1f}%")
            spread = m01.get("canary_spread_pct")
            if spread is not None:
                line += (f" (canary spread +/-{spread:.0f}% this run - the "
                         f"adjustment's error bar)")
        else:
            line += "; no canary in one artifact - raw delta only"
        if cpu_ratio:
            cpu_spread = m01.get("canary_cpu_spread_pct")
            line += (f". CPU canary {mp['canary_cpu_sec']:.2f} s -> "
                     f"{m01['canary_cpu_sec']:.2f} s"
                     + (f" (spread +/-{cpu_spread:.0f}%)"
                        if cpu_spread is not None else "")
                     + " - the divisor for decode-bound (m-family) rows")
        drift_lines = [line, ""]

    # Queries whose count-mode number is known to let Catalyst prune a
    # filter-free windowed tail (the class bench_noop_r13.json was cut
    # for). Other queries in a noop artifact get a neutral footnote -
    # stamping the pruning claim on every row would be wrong (r13
    # advice).
    WINDOW_TAIL = {"q30_asof_join", "q41_pit_join",
                   "q74_forward_fill", "q85_linear_interp",
                   "q57_trailing_range_window"}
    noop_notes = {}
    if args.noop:
        qn, mn = qmap(args.noop)
        sf_label = (mn.get("sf") or "?").rstrip("/").split("/")[-1]
        for n, v in qn.items():
            base = f"noop-mode (full materialization) {v:.2f} s at {sf_label}"
            if n in WINDOW_TAIL:
                base += (" - the count-mode number lets Catalyst prune the "
                         "filter-free windowed tail")
            noop_notes[n] = base
        # append the footnote to each covered query's note cell
        def with_noop(r):
            hits = [n for n in noop_notes if f"| {n} |" in r]
            if not hits:
                return r
            body = r[:-1].rstrip()
            sep = " " if body.endswith("|") else "; "
            return body + sep + noop_notes[hits[0]] + " |"
        rows = [with_noop(r) for r in rows]

    prev_hdr = " vs prev (raw/adj) |" if prev_col else ""
    prev_div = "---|" if prev_col else ""
    header = [
        "<!-- AUDIT-BEGIN (generated by tools/audit_table.py - edit NOTES there, not here) -->",
        "",
        *drift_lines,
        f"Numbers: `{args.sf01}` (sf0.1) and `{args.sf1}` (sf1, 10x data), per-query",
        "steady-state seconds (min of two cold-cache passes, local[32]). The x10x column",
        "is the wall-ratio for 10x data - sublinear (<x10) means the plan's shuffles are",
        "key/candidate-bounded rather than corpus-bounded. Skew = hot-key corpus seconds /",
        "uniform corpus seconds at sf1 (20%-hot-key generator), for the families where a",
        "skew A/B has been measured. Sorted by sf1 cost: the expensive tail is the audit's",
        "priority order." + (" 'vs prev' divides this round's sf0.1 seconds by the"
        " previous round's, raw and canary-drift-adjusted (raw / canary ratio):"
        " adj ~x1.00 = host drift, not a plan change. Decode-bound m-family"
        " rows divide by the CPU canary instead ('cpu-adj') when both"
        " artifacts carry canary_cpu_sec." if prev_col else ""),
        "",
        f"| query | sf0.1 s | sf1 s | x10x | skew |{prev_hdr} shape / regime |",
        f"|---|---|---|---|---|{prev_div}---|",
    ]
    footer = ["", "<!-- AUDIT-END -->"]
    block = "\n".join(header + rows + footer)

    with open(args.plans) as f:
        text = f.read()
    b, e = text.find("<!-- AUDIT-BEGIN"), text.find("<!-- AUDIT-END -->")
    if b >= 0 and e >= 0:
        text = text[:b] + block + text[e + len("<!-- AUDIT-END -->"):]
    else:
        text = text.rstrip() + "\n\n## Living per-query audit\n\n" + block + "\n"
    with open(args.plans, "w") as f:
        f.write(text)
    print(f"audit table: {len(rows)} queries -> {args.plans}")


if __name__ == "__main__":
    sys.exit(main())
