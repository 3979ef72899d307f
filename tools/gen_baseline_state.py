"""Regenerate the CURRENT-STATE table at the top of BASELINE.md.

BASELINE.md is append-only measurement history (VERDICT r7 #7: 1,184
lines across 7 rounds made the live number per operator archaeology).
This tool owns the single source of truth for "which row is current":
edit LIVE below in the same commit as any new measurement, run

    python tools/gen_baseline_state.py

and the block between the CURRENT-STATE markers is rewritten in place.
Rows list the operator's number at its LARGEST attested scale and the
round that produced it; section pointers name the BASELINE.md heading
with the full protocol and context.
"""

from __future__ import annotations

import os
import re

BASELINE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BASELINE.md")
BEGIN = "<!-- CURRENT-STATE:BEGIN (generated by tools/gen_baseline_state.py) -->"
END = "<!-- CURRENT-STATE:END -->"

# operator -> (scale, wall, shuffle, step/slope note, round, section)
# "step" = wall ratio for the last 3x data step where a 3000x row
# exists, else per-decade slope over the attested decades.
LIVE: list[tuple[str, str, str, str, str, str, str]] = [
    # name, largest scale, wall, shuffle, step/slope, round, section
    ("dedup_minhash_lsh", "10000x docs (50.3M)", "528.2 s", "57.5 GB",
     "local[32]; lc 683.7 s at same bytes — master wall deltas are "
     "drift-band, bytes invariant", "r10",
     "Round 10 — fifth-decade flagship refresh"),
    ("dedup_candidate_recall", "10000x docs (50.3M)", "915.3 s", "64.0 GB",
     "default 8g, zero OOM: staged cand side, -19% vs r9; 3000x trade "
     "373.0 s vs 291.1 s fused", "r10",
     "Round 10 — recall's heap caveat converted into a win (staged "
     "cand side)"),
    ("dedup_lsh_verified_pairs", "3000x docs (15.0M, r11 corpus)", "281.0-282.6 s", "37.2 GB",
     "wave-balanced spread() width (45 -> 64 tasks): -18% wall vs "
     "same-JVM old-width runs (374.0/310.5 s) and far below r11's "
     "459.5-621.1 s drift band; bytes unchanged", "r12",
     "Round 12 — optimization round 2: wave balance, reclaim root "
     "cause, scale-adaptive stream width"),
    ("minhash_estimate_accuracy", "3000x docs (15.0M, r11 corpus)", "572.7 s", "37.2 GB",
     "in-row signatures, same pipeline as verified_pairs; r10's "
     "308.1 s / 64.1 GB row was a different data vintage", "r11",
     "Round 11 — optimization round 1: measure, cut the waste, A/B at "
     "the fourth decade"),
    ("tfidf_top_terms", "3000x docs", "184.0 s", "22.8 GB",
     "single-scan plan (df from tf, reused exchange); clone 2/2", "r9",
     "Round 9 — tfidf single-scan rework"),
    ("semdedup_prune", "3000x docs+emb (6.0M vecs)", "455.6 s", "9.71 GB",
     "lc[1,32,8g] ~= lc[2,16,4g] 460.6 s ~= local[32] (executor count "
     "second-order)", "r10",
     "Round 10 — executor sizing for the Lloyd-loop family"),
    ("dedup_connected_components", "3000x docs", "196.2 s", "28.5 GB",
     "refreshed on r10 code, bytes unchanged", "r10",
     "Round 10 — components-family fourth-decade refresh"),
    ("dedup_neardup_keeper", "3000x docs", "228.0 s", "28.9 GB",
     "refreshed on r10 code (-31%), bytes unchanged", "r10",
     "Round 10 — components-family fourth-decade refresh"),
    ("dedup_substring_spans", "3000x docs", "285.5 s", "35.2 GB",
     "refreshed on r10 code, bytes unchanged", "r10",
     "Round 10 — remaining pre-r9 vintage rows refreshed"),
    ("dedup_incremental_minhash", "3000x docs", "125.1 s", "9.3 GB",
     "refreshed on r10 code (drift band), bytes unchanged", "r10",
     "Round 10 — remaining pre-r9 vintage rows refreshed"),
    ("dedup_ngram_jaccard", "1000x docs", "~16 GB heap caveat", "-",
     "5.32/decade (accepted global-truth trade)", "r7",
     "Round-7 slope burn-down"),
    ("basket_part_pairs", "1000x facts (600M rows)", "206.7 s", "8.96 GB",
     "vs r7 370.0 s (floor gated)", "r8",
     "Round 8 — basket two-tier floor"),
    ("ann_lsh_bucketed", "1000x emb", "9.7 s", "805 MB", "2.45/decade",
     "r6", "Three-decade sweep, part 3"),
    ("ann_ivf_trained", "3000x emb", "414.2 s", "8.06 GB",
     "lc[1,32,8g]; local[32] 427.0 s; OOM on 2x4g (per-JVM heap floor)",
     "r10", "Round 10 — executor sizing for the Lloyd-loop family"),
    ("ann_pq_topk", "1000x emb", "52.7 s", "942 MB", "4.30/decade",
     "r6", "Three-decade sweep, part 3"),
    ("q1_pricing_summary", "1000x facts", "38.6 s", "0.1 MB",
     "3.20/decade", "r6", "Three-decade sweep, part 2"),
    ("q5_nation_revenue", "1000x facts", "70.9 s", "11.9 GB",
     "4.80/decade", "r6", "Three-decade sweep, part 2"),
    ("multi-executor attestation (flagship 4)", "1000x, local-cluster[2,16,4g]",
     "72.8-151.3 s", "= local[32] ±4%",
     "sim 231/231 + executor-kill byte-identical; recall -31% / semdedup -21% vs local[32]",
     "r9", "Round 9 — multi-executor attestation"),
    ("sf0.1 headline (bench.py)", "sf0.1", "4.962 s", "-",
     "0.28x baseline (committed final-code sweep: total 164.7 s / 231 / "
     "0 failed / 0 retimes); same-day box swing spanned 4.96-7.24 s "
     "headline, see r12 drift ledger; sf1 record 13.38-13.79 s in the "
     "slow phase", "r12",
     "Round 12 — optimization round 2: wave balance, reclaim root "
     "cause, scale-adaptive stream width"),
]


def render() -> str:
    lines = [
        BEGIN,
        "## Current state (live numbers at largest attested scale)",
        "",
        "Everything below this block is append-only history; THIS table is",
        "the index of which measurement is current per operator. Regenerate",
        "with `python tools/gen_baseline_state.py` in the same commit as any",
        "new measurement.",
        "",
        "| operator | largest attested scale | wall | shuffle | step/slope | round | section |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, scale, wall, shuf, slope, rnd, section in LIVE:
        lines.append(
            f"| {name} | {scale} | {wall} | {shuf} | {slope} | {rnd} | {section} |"
        )
    lines.append(END)
    return "\n".join(lines)


def main() -> None:
    text = open(BASELINE).read()
    block = render()
    if BEGIN in text:
        # callable replacement: the rendered block is literal text, not a
        # regex template — a backslash in a LIVE note must not be
        # interpreted as a group escape (ADVICE r8).
        text = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END),
            lambda m: block,
            text,
            flags=re.S,
        )
    else:
        # insert after the H1 title line
        lines = text.split("\n")
        for i, ln in enumerate(lines):
            if ln.startswith("# "):
                lines[i + 1 : i + 1] = ["", block, ""]
                break
        text = "\n".join(lines)
    open(BASELINE, "w").write(text)
    print("CURRENT-STATE block regenerated")


if __name__ == "__main__":
    main()
