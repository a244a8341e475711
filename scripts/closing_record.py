#!/usr/bin/env python3
"""Regenerate COVERAGE.md's closing benchmark record from the on-disk
capture files — the mechanical fix for three rounds of quoted-figure /
artifact mismatches: the block between the CLOSING-RECORD markers is
NEVER hand-edited; this script rewrites it from the JSON artifacts and
stamps every figure with its file and capture mtime.

Usage: python3 scripts/closing_record.py   (run from the repo root,
after the final bench captures; commits should include the rewritten
COVERAGE.md together with the capture files it quotes)
"""
import datetime
import hashlib
import json
import os
import re
import sys

BEGIN = "<!-- CLOSING-RECORD-BEGIN (generated by scripts/closing_record.py — do not hand-edit) -->"
END = "<!-- CLOSING-RECORD-END -->"
TREND_BEGIN = "<!-- TREND-100X-BEGIN (generated by scripts/closing_record.py — do not hand-edit) -->"
TREND_END = "<!-- TREND-100X-END -->"
S1000_BEGIN = "<!-- STRUCT-1000X-BEGIN (generated by scripts/closing_record.py — do not hand-edit) -->"
S1000_END = "<!-- STRUCT-1000X-END -->"
BASELINE_R1 = 24.08  # driver round-1 measured baseline, BASELINE.md

# Hand-maintained plan-shape notes for the trend subset; figures in the
# table are always machine-written from the captures, the shape text is
# the stable architectural claim the figures test.
SHAPES = {
    "docs_ngram_jaccard": "collapse: pair work ∝ distinct texts",
    "docs_containment": "collapse",
    "docs_dedup_then_simhash": "dedup-first lineage",
    "docs_dup_clusters": "collapsed rep graph",
    "docs_ingest_dedup_gate": "O(new) gate: wall = per-round store I/O",
    "docs_simhash_hamming": "signature-group collapse; fused map-side "
                            "graft_simhash signature (r14)",
    "docs_span_dedup": "near-unique-key aggs over fused graft_gram_ids "
                       "(r14; r12 fold), ~linear in grams",
    "docs_contamination_bloom": "map-side Bloom probe over fused "
                                "graft_gram_ids (r14), ~linear scan; "
                                "clean-corpus 100 TB twin — on THIS "
                                "dup-heavy corpus the exact twin is "
                                "now cheaper (r14 note)",
    "docs_contamination": "exact twin: distinct train grams + "
                          "partitioned hash semi-join; fused "
                          "graft_gram_ids (r14, 9.2→4.7 s at 100×)",
    "docs_normalized_dedup": "fused single-pass graft_normalize (r13; "
                             "was two regexp passes at 21.9 s) + "
                             "52-bit-id distinct expand",
    "joins_revenue_region_month": "star join, flat layout: eager "
                                  "pre-agg, broadcast nation/region — "
                                  "excess over linear = measured "
                                  "map-side partial-agg spill at 100× "
                                  "(r14); layout-agnostic baseline",
    "joins_revenue_region_month_bucketed": "co-bucketed layout twin "
                                           "(r14): exchange 1.03 GB → "
                                           "0.52 MB, zero spill; build "
                                           "amortized once per corpus "
                                           "(visible in rep-1 spread)",
    "trades_gapfill_asof": "native AsofJoin physical op, "
                           "bounded readback",
    "trades_ingest_decode": "per-row decode readback: key fan-out "
                            "(r13) + fused ASCII envelope parser with "
                            "Jackson fallback (r14, 25.7→9.9 s warm "
                            "at 100×), output ∝ input",
    "emb_lsh_pairs": "adaptive-width LSH buckets (r12): occupancy "
                     "≈ 32, candidates ∝ n",
    "emb_knn_accuracy": "adaptive-width buckets + bounded top-5 heap",
    "emb_near_dup": "adaptive-width buckets → distinct drop set",
    "docs_minhash_pairs": "DEMOTED r12 (bench contrast): pair OUTPUT "
                          "grows F² on dup-heavy corpora — registry "
                          "carries the membership twins",
    "docs_minhash_pairs_mv": "gated-index readback (r11): candidates "
                             "track DISTINCT content — FLAT",
    "emb_semantic_dedup_capped": "adaptive LSH cap: |subcell| ≈ 64 ⇒ "
                                 "linear pair term",
    "emb_ivf_streamed": "cell-pruned probe + in-query store build",
    "docs_source_novelty": "source valuation (r17 bounded-state "
                           "shape): gram-keyed exchange BEFORE the "
                           "(source, gram) distinct — per-task state "
                           "vocab/partitions, the 300× partial-agg "
                           "spill retired; output ∝ |sources|",
    "joins_top_suppliers_bucketed": "suppkey projection (r15): "
                                    "per-supplier pre-agg exchange-free "
                                    "in-bucket; fact never crosses the "
                                    "wire (flat no-bcast 793.9 MB → "
                                    "0.10 MB); build amortized once per "
                                    "corpus (visible in rep-1 spread)",
    "emb_ivf_streamed_sql": "same plan via graft_mv_read SQL",
    "events_seq_match": "running-min window (r11): O(rows)",
    "docs_lm_surprise": "fused graft_gram_ids(2) bigram explode "
                        "(r14; r12 fold) + count join; r17: ONE "
                        "gram-keyed exchange feeds count agg AND "
                        "join probe, bounded per-task state",
    "trades_price_quantiles": "two-pass bucketed selection (r11)",
    "trades_hist_quantiles": "64-bucket sketch; exact readout shares "
                             "the bucketed selection (r11)",
    "trades_ttl_readback": "ONE-pass blocked ingest (r12) + expire + "
                           "readback",
    "trades_candles_streamed": "real watermarked micro-batch run (r12): "
                               "state ∝ symbols × lateness, wall ∝ "
                               "staged-window I/O",
    "docs_bpe_encode": "one corpus pass to the word-type histogram, "
                       "then O(types) per merge (r12)",
    "media_frame_sample": "pure map-side codec CPU (real BMP "
                          "synthesize + decode per sampled frame); "
                          "the 30× full-registry worst ratio, proven "
                          "~linear at the fourth scale point (r14)",
    "docs_cluster_split": "dedup-aware split (r14): rides the "
                          "collapsed-rep component labeling + one "
                          "cluster-keyed agg; leakage report is a "
                          "1-row rollup",
    "docs_corpus_build_neardup": "capstone with near-dup cluster "
                                 "collapse (r16): rides textGroups + "
                                 "the collapsed-rep CC labeling; split "
                                 "keyed on the cluster label",
    "docs_source_greedy": "bounded-k greedy max-coverage (r16): k≤5 "
                          "rounds × (map-side agg + 8-byte-key "
                          "anti-join), 1-row driver argmax",
    "trades_projection_ingest": "per-block aggregate projection "
                                "maintained at ingest (r16): base + "
                                "projection commit in ONE rename; "
                                "probe merges projection partials "
                                "only, never rescans raw rows",
    "docs_corpus_build_keepbest": "quality-aware rep selection (r16): "
                                  "keep each near-dup cluster's "
                                  "best-score member — one extra "
                                  "window on the 8-byte cluster key; "
                                  "id_sum pins survivor identity",
    "docs_source_overlap": "pairwise source-overlap matrix (r16): "
                           "gram-keyed self-join of the 8-byte "
                           "(source, gram) distinct — pair term is "
                           "vocab × holders², output ≤ |S|²",
    "docs_source_overlap_capped": "overlap matrix under the τ=1/2 "
                                  "document-frequency cap (r17): "
                                  "universal grams leave the pair "
                                  "join (term bounded by (τ|S|)²) "
                                  "and are counted separately",
}


def load(name):
    """Load a capture by base name, preferring the round-stamped file.

    Provenance is twofold (the r11 lesson — the driver's post-round
    bench clobbered `target/bench_metrics.json` after the record quoted
    it): (1) captures are written to round-stamped paths
    (`target/<name>_r<N>.json`, N from GRAFT_ROUND or the highest
    stamp on disk) that nothing else overwrites, and (2) every stamp
    embeds the first 12 hex of the file's sha256, so a later overwrite
    of ANY quoted path is mechanically detectable against the record.
    """
    # numeric stamp sort: lexicographic order ranks _r9 above _r12, so a
    # leftover single-digit stamp would be quoted as "the highest round"
    def stamp_no(p):
        m = re.search(rf"_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1
    stamped = sorted(
        (p for p in os.listdir("target")
         if re.fullmatch(rf"{re.escape(name)}_r\d+\.json", p)),
        key=stamp_no)
    want = os.environ.get("GRAFT_ROUND")
    if want:
        path = f"target/{name}_r{want}.json"
        # never fall back silently: quoting the unstamped (driver-
        # clobberable) file when the requested round's capture is absent
        # is exactly the provenance drift the stamps exist to prevent.
        # bench_metrics is mandatory; scale captures may legitimately
        # not exist for a round (SKIP_100X) — absent is None, never a
        # silent substitute.
        if not os.path.exists(path):
            if name == "bench_metrics":
                sys.exit(f"GRAFT_ROUND={want} set but {path} is missing — "
                         "capture it (graft.Bench with SPARK_GRAFT_BENCH_OUT="
                         f"{path}) or unset "
                         "GRAFT_ROUND; refusing the unstamped fallback")
            return None
    elif stamped:
        path = f"target/{stamped[-1]}"
    else:
        path = f"target/{name}.json"
    if not os.path.exists(path):
        return None
    # refusal at WRITE time (r12 verdict task 7): quoting a stamped
    # capture while a NEWER unstamped file exists means someone re-ran
    # Bench after the round's capture — the r11 clobber scenario in
    # flight. Refuse to generate a record that would immediately be
    # out of sync with the freshest data on disk; the operator either
    # re-stamps (scripts/recapture.sh rN) or deletes the stray file.
    unstamped = f"target/{name}.json"
    if path != unstamped and os.path.exists(unstamped) and \
            os.path.getmtime(unstamped) > os.path.getmtime(path):
        sys.exit(f"PROVENANCE DRIFT: {unstamped} is newer than {path} — "
                 "a post-capture bench run clobbered the unstamped file; "
                 "recapture (scripts/recapture.sh rN) or remove it before "
                 "regenerating the record")
    with open(path, "rb") as f:
        raw = f.read()
    d = json.loads(raw)
    ts = datetime.datetime.fromtimestamp(
        os.path.getmtime(path), datetime.timezone.utc)
    sha = hashlib.sha256(raw).hexdigest()[:12]
    d["_stamp"] = f"`{path}`, captured {ts:%Y-%m-%d %H:%M} UTC, sha256 `{sha}`"
    return d


def ratios(scale, base):
    """Per-query scale/base media ratios for queries present in both."""
    out = []
    for name, sec in scale["queries"].items():
        b = base["queries"].get(name)
        if b and b > 0:
            out.append((sec / b, name))
    return sorted(out)


def fmt_scale(tag, scale, base):
    rs = ratios(scale, base)
    if not rs:
        # a capture sharing zero query names with the base (e.g. a
        # subset-only file against a renamed registry) must degrade to
        # a note, not abort the whole regeneration on rs[-1]
        return (f"{tag} **{scale['value']:.1f} s** — no overlapping "
                f"queries with the base capture, ratios omitted "
                f"({scale['_stamp']}).")
    # true median (average the middle two when even — same convention
    # as the bench medians; rs[n//2] alone is upward-biased)
    n = len(rs)
    med_ratio = (rs[n // 2][0] if n % 2 == 1
                 else (rs[n // 2 - 1][0] + rs[n // 2][0]) / 2)
    worst = rs[-1]
    sub = (f"the {scale['n_queries']}-query trend subset"
           if scale["n_queries"] != base["n_queries"]
           else f"all {scale['n_queries']} queries")
    return (
        f"{tag} **{scale['value']:.1f} s** over {sub}, "
        f"n_failed {scale['n_failed']}, total_spread "
        f"{scale['total_spread']:.1f} s; per-query median ratio vs the "
        f"sf0.1 medians **{med_ratio:.2f}×**, worst **{worst[0]:.2f}×** "
        f"(`{worst[1]}`) ({scale['_stamp']}).")


def trend_table(base):
    """Markdown table over the 100× trend subset, medians from the
    captures, ratio column = 100×/sf0.1 per query."""
    s10 = load("bench_scale10")
    s30 = load("bench_scale30")
    s100 = load("bench_scale100")
    s300 = load("bench_scale300")
    if s100 is None:
        return None

    def cell(d, name):
        # `is not None`, not truthiness: Bench rounds to ms, so a
        # legitimate 0.000 s median must render as 0.00 s, not '—'
        v = d["queries"].get(name) if d is not None else None
        return f"{v:.2f} s" if v is not None else "—"

    rows = []
    for name in s100["queries"]:
        b = base["queries"].get(name)
        v100 = s100["queries"][name]
        ratio = f"**{v100 / b:.1f}×**" if b else "—"
        # the fifth scale point (r16): 300× median, annotated with its
        # ratio vs 100× — ×3 the input, so ≤3.0× is at-or-under linear
        c300 = "—"
        if s300 is not None and name in s300.get("queries", {}):
            v300 = s300["queries"][name]
            c300 = (f"{v300:.2f} s ({v300 / v100:.1f}×)"
                    if v100 > 0 else f"{v300:.2f} s")
        # raw "|" in shape text (e.g. "|subcell| ≈ 64") would split the
        # markdown table cell into extra columns
        shape = SHAPES.get(name, "").replace("|", "\\|")
        rows.append(
            f"| `{name}` | {cell(base, name)} | {cell(s10, name)} | "
            f"{cell(s30, name)} | {cell(s100, name)} | {ratio} | "
            f"{c300} | {shape} |")
    head300 = ("; 300×: " + s300["_stamp"]) if s300 is not None else ""
    lines = [
        TREND_BEGIN,
        "",
        "Medians from the same capture files as the closing record "
        f"(sf0.1 base: {base['_stamp']}; 100×: {s100['_stamp']}"
        f"{head300}); "
        "ratio = 100× median / sf0.1 median — 100× the input, so a "
        "ratio ≤ ~10× is sub-linear per input unit; the 300× cell's "
        "parenthetical is its ratio vs 100× (×3 input ⇒ ≤3.0× is "
        "at-or-under linear). Rows ABOVE ~10× are not automatically "
        "regressions: each carries its measured mechanism (spill, "
        "per-frame codec CPU, …) in its shape column — read the cell, "
        "not just the threshold:",
        "",
        "| query | 1× (sf0.1) | 10× | 30× | 100× | 100× ratio | "
        "300× (vs 100×) | shape |",
        "|---|---|---|---|---|---|---|---|",
        *rows,
        "",
        TREND_END,
    ]
    return "\n".join(lines)


def struct1000_table():
    """Sixth scale point (r17, r16 verdict task 6): the ~10 structural
    lines at 1000× (~15 GB corpus), single-rep by design — each line is
    tens of seconds there and its 1000× story is shape, not ulps."""
    s1000 = load("bench_scale1000")
    s300 = load("bench_scale300")
    if s1000 is None:
        return None
    rows = []
    for name, v in s1000["queries"].items():
        c300 = "—"
        if s300 is not None and name in s300.get("queries", {}):
            v300 = s300["queries"][name]
            c300 = (f"{v300:.2f} s → **{v / v300:.1f}×**"
                    if v300 > 0 else f"{v300:.2f} s")
        shape = SHAPES.get(name, "").replace("|", "\\|")
        rows.append(f"| `{name}` | {c300} | {v:.2f} s | {shape} |")
    lines = [
        S1000_BEGIN,
        "",
        "Sixth scale point — the spill-sensitive structural lines at "
        f"1000× (~15 GB on-disk corpus; {s1000['_stamp']}; single rep "
        "by design, the 300× stamp carries the median discipline). "
        "×3.33 the 300× input ⇒ a ratio ≤ ~3.3× is at-or-under "
        "linear:",
        "",
        "| query | 300× (ratio 1000×/300×) | 1000× | shape |",
        "|---|---|---|---|",
        *rows,
        "",
        S1000_END,
    ]
    return "\n".join(lines)


def splice(doc, begin, end, block):
    if begin in doc:
        return doc[:doc.index(begin)] + block + doc[doc.index(end) + len(end):]
    return doc.rstrip("\n") + "\n\n" + block + "\n"


def main():
    base = load("bench_metrics")
    if base is None:
        sys.exit("target/bench_metrics[_rN].json missing — run graft.Bench first")
    lines = [
        BEGIN,
        "",
        "**Full-registry closing record** (median-of-"
        f"{base.get('reps', 3)}, `local[32]`; every figure below is "
        "machine-written from the named capture file — regenerate with "
        "`python3 scripts/closing_record.py`):",
        "",
        f"- sf0.1: **{base['value']:.1f} s** across all "
        f"{base['n_queries']} registered queries, n_failed "
        f"{base['n_failed']}; `r1_subset_total` "
        f"**{base['r1_subset_total']:.2f} s = "
        f"{base['r1_subset_total'] / BASELINE_R1:.3f}×** of the "
        f"{BASELINE_R1} s round-1 baseline; total_spread "
        f"{base['total_spread']:.1f} s ({base['_stamp']}).",
    ]
    s100 = None
    for tag, name in [("10×:", "bench_scale10"),
                      ("30×:", "bench_scale30"),
                      ("100×:", "bench_scale100"),
                      ("300×:", "bench_scale300")]:
        scale = load(name)
        if scale is not None:
            lines.append(f"- {fmt_scale(tag, scale, base)}")
        if name == "bench_scale100":
            s100 = scale
    # second same-HEAD 100× capture, when one exists (the r12/r13
    # corroboration convention): quote the cross-capture agreement so
    # the trend table's shape claims carry their own noise bound.
    s100b = load("bench_scale100b")
    if s100 is not None and s100b is not None:
        pairs = [(s100b["queries"][q] / s100["queries"][q], q)
                 for q in s100["queries"]
                 if q in s100b.get("queries", {}) and s100["queries"][q] > 0]
        if pairs:
            pairs.sort()
            # true median: average the two middle RATIOS when the list
            # has even length (pairs[n//2] alone is upward-biased);
            # the quoted query name is the upper-middle element's
            n = len(pairs)
            med_ratio = (pairs[n // 2][0] if n % 2 == 1
                         else (pairs[n // 2 - 1][0] + pairs[n // 2][0]) / 2)
            worst = pairs[-1]
            lines.append(
                f"- 100× corroboration: second same-HEAD capture "
                f"**{s100b['value']:.1f} s** total "
                f"({s100b['_stamp']}); per-query b/a median "
                f"**{med_ratio:.2f}**, max {worst[0]:.2f} "
                f"(`{worst[1]}`) — medians of capture a stay the record.")
    lines += [
        "",
        "`total_spread` is the summed per-query max−min over the reps — "
        "the host-contention indicator (spread ≳ total ⇒ noisy capture; "
        "medians are the record).",
        "",
        END,
    ]
    block = "\n".join(lines)

    with open("COVERAGE.md") as f:
        doc = f.read()
    doc = splice(doc, BEGIN, END, block)
    trend = trend_table(base)
    # same splice-with-append-fallback as the closing block: a fresh
    # checkout without the TREND markers must not silently drop the
    # table while exiting 0 (r11 ADVICE)
    if trend is not None:
        doc = splice(doc, TREND_BEGIN, TREND_END, trend)
    s1000 = struct1000_table()
    if s1000 is not None:
        doc = splice(doc, S1000_BEGIN, S1000_END, s1000)
    with open("COVERAGE.md", "w") as f:
        f.write(doc)
    print(block)
    if trend is not None:
        print(trend)


if __name__ == "__main__":
    main()
