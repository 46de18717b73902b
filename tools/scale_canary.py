"""Standing scale-regression canary (VERDICT r08 item 6).

Re-fits the two-decade scaling exponent ``alpha_last`` (sf0.1 -> sf1,
the honest asymptotic estimate — see `docs/SCALING.md` "A second
decade") for the representative physical shapes and FAILS LOUDLY when
any shape measures super-linear (alpha_last > 1.1) without being on
the documented-baseline allowlist. The allowlist carries the two
deliberately-retained exact baselines whose quadratic cost is the
point of the comparison, each with its own ceiling so a *further*
regression (a baseline drifting past its documented exponent) still
fails:

- ``dedup_ngram_jaccard`` — the UNCAPPED per-shingle self-join kept as
  the oracle-exact baseline; documented alpha_last 1.22 (its scale
  sibling ``dedup_jaccard_capped`` measures 0.13).
- ``semantic_dedup_survivors`` — survivor algebra over the exact
  brute-GEMM candidate baseline; documented alpha_last 1.44 (over LSH
  candidates the same algebra measures 0.05, flat).

Steal-robustness: this host's wall times inflate ~1:1 with hypervisor
steal (bench.py r09 root-cause), so a single noisy run can fake a
super-linear fit. Any shape that breaches its ceiling is re-measured
once in a fresh probe before the canary fails.

Usage: python tools/scale_canary.py   (exit 0 = all shapes in budget)
The synthetic sf1 input is generated on first use (timing-only data —
the correctness gate never runs on synthetic inputs).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
X10_DIR = "/tmp/spark_graft_sf_x10"

# shape -> alpha_last ceiling; None = the generic 1.1 sub-linear budget
CEILINGS: dict[str, float | None] = {
    # the 9 representative shapes (bench_scale_curve DEFAULT_QUERIES)
    "pricing_summary": None,
    "top_revenue_orders": None,
    "latest_state_per_entity": None,
    "dedup_exact_docs": None,
    "dedup_minhash_lsh": None,
    "embedding_knn": None,
    "text_stats_by_source": None,
    "token_zipf_coverage": None,
    "repeated_span_stats": None,
    "bm25_multi_query_topk": None,  # r11: pruned explode + window k-cut
    # r12: the corpus-ingestion family — scan-shaped Arrow/codegen
    # chains (WARC framing, wildcard robots, strict charset decode,
    # WET conversion parse); all must stay ~linear in input bytes
    "corpus_ingest_pipeline_stats": None,
    "robots_wildcard_filter_stats": None,
    "charset_decode_stats": None,
    "wet_ingest_stats": None,
    # r12 wave 3: classifier inference (per-row gram aggregate, scan-
    # shaped), incremental near-dup (banded store probe + candidate-
    # bounded digest verify), budget mixture (tiny agg + scan filter)
    "quality_classifier_stats": None,
    "minhash_incremental_stats": None,
    "token_budget_mixture_stats": None,
    # r13: intra-batch near-dedup (minhash_lsh_dedup pair graph ->
    # duplicate_clusters -> dedup_by_pairs anti-join) over a
    # planted-clone corpus, the one batch-quadratic-ish stage; canary it
    # so a super-linear drift forces the bucketed-pair-graph fix
    "dedup_survivors_minhash": None,
    # r13: BPE encode (Arrow map + broadcast merges — must stay linear
    # in corpus bytes like the other scan-shaped Arrow stages)
    "bpe_token_count_stats": None,
    # r13: packed-sequence emission — ids shuffle once on the shard
    # partitioning (that IS the output); must stay ~linear
    "packed_sequence_emission_stats": None,
    # r13: classifier evaluation (scan + confusion aggregate)
    "classifier_confusion_report": None,
    # r14: byte-level GPT-2 encode (published pre-tokenizer + byte map
    # inside the Arrow batch — heavier per row than the whitespace
    # lane, but still one scan, must stay linear in corpus bytes)
    "bpe_byte_level_stats": None,
    # r14: the online selection gate (score scan + bounded histogram +
    # broadcast-literal threshold filter — two scan-shaped jobs)
    "threshold_selection_stats": None,
    # r15: the non-ASCII byte-level lane (translate + Arrow encode
    # map — same scan shape as bpe_byte_level_stats)
    "bpe_byte_level_utf8_stats": None,
    # r15: broadcast-gather classifier scoring (JVM bucket hash + one
    # Arrow numpy gather — the >100k-bucket path; must track the
    # literal lane's linearity)
    "quality_classifier_broadcast_stats": None,
    # r15: rolling recalibration trajectory (score scan + per-batch
    # bounded histograms; the window join/cumulative run on histogram
    # rows only — corpus is touched exactly once)
    "rolling_threshold_trajectory": None,
    # r15: multi-class tagging (shared bucket hashing + k literal
    # score sums + codegen argmax — one scan, must stay linear)
    "topic_classifier_stats": None,
    # r15: taxonomy -> mixture composition (tag scan + per-topic token
    # agg + broadcast rates + scan-side md5 keep filter)
    "topic_mixture_report": None,
    # documented-baseline allowlist: super-linear BY DESIGN, but a
    # drift past the documented exponent (+ noise margin) still fails
    "dedup_ngram_jaccard": 1.45,
    "semantic_dedup_survivors": 1.65,
}
GENERIC_CEILING = 1.1


def _run_curve(names: list[str]) -> dict:
    cmd = [
        sys.executable,
        os.path.join(TOOLS, "bench_scale_curve.py"),
        *names,
        "--extra",
        f"1.0={X10_DIR}",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True)
    if out.returncode != 0:
        print(out.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"scale-curve probe failed (rc={out.returncode})")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    if not os.path.isdir(X10_DIR):
        print("# generating synthetic sf1 input (first use)", file=sys.stderr)
        subprocess.check_call(
            [sys.executable, os.path.join(TOOLS, "gen_scale_data.py"), "10"]
        )
    names = list(CEILINGS)
    result = _run_curve(names)
    alpha_last = result["alpha_last"]

    def breaches(name: str) -> bool:
        ceiling = CEILINGS[name] or GENERIC_CEILING
        return alpha_last[name] > ceiling

    suspects = [n for n in names if breaches(n)]
    if suspects:
        # one steal-robust retry: re-measure only the breaching shapes
        print(
            f"# re-measuring suspected shapes (steal guard): {suspects}",
            file=sys.stderr,
        )
        retry = _run_curve(suspects)
        alpha_last.update(retry["alpha_last"])
        for name in suspects:
            result["curves"][name] = retry["curves"][name]
        suspects = [n for n in names if breaches(n)]

    report = {
        "metric": "scale_canary_alpha_last",
        "alpha_last": alpha_last,
        "ceilings": {n: (c or GENERIC_CEILING) for n, c in CEILINGS.items()},
        "curves": result["curves"],
        "breaches": suspects,
    }
    print(json.dumps(report))
    if suspects:
        for name in suspects:
            ceiling = CEILINGS[name] or GENERIC_CEILING
            print(
                f"SCALE REGRESSION: {name} alpha_last="
                f"{alpha_last[name]} > ceiling {ceiling} "
                f"(curve {result['curves'][name]})",
                file=sys.stderr,
            )
        return 1
    print(
        f"# all {len(names)} shapes within scale budget", file=sys.stderr
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
