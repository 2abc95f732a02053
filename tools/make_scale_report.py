#!/usr/bin/env python3
"""Merge two graft.Bench artifacts (sf0.1 and sf1) into a scale-
rehearsal report: per query {sf0.1 ds, sf1 ds, ratio}, plus a summary
classifying gates as ok / watch / superlinear.

Bench artifacts carry per-query integer deciseconds as ONE csv string in
numeric-ascending short-key order (see Bench.serialize); the query-name
axis comes from a Verify dump's oracle_sql.json (all declared gates).

Classification on the NORMALIZED ratio r = sf1 / (10 x sf0.1) — data
grows 10x between the artifacts, so r = 1 is exactly linear scaling
(a data-bound scan SHOULD cost 10x on 10x data):
  superlinear: r > 1.25  -- growing faster than the data; fix or explain
  linear:      r > 0.85  -- tracking the data; expected for scan-bound
  ok:          r <= 0.85 -- sub-linear (fixed-cost or index-bound)
The 0.3 s floor on the sf0.1 side keeps 0.1 s-resolution noise on
trivial queries from manufacturing ratios.

Usage: make_scale_report.py <bench_sf0.1.json> <bench_sf1.json>
                            <oracle_sql.json> <out.json> [overrides.json]
                            [budgets.json]

budgets.json (optional, round-12 protocol): gate -> {"sf001": N,
"sf1": N} shuffle-record measurements from
`runMain graft.ShuffleAudit <sfDir> <gates>` — embedded as the
report's "budgets" section so plan volume and wall-clock scaling are
asserted from one artifact.

The optional overrides file maps query name -> true sf1 deciseconds for
entries the Bench serializer CLAMPED at 999 ds (its line-width contract)
— re-measure those with graft.Bench <gates> and record the honest number;
overridden entries carry "sf1_source": "benchone".
"""
import json, sys

# Named explanations for gates expected to sit at or above linear —
# committed WITH the artifact so a flagged ratio is a documented
# property, not an open question.
EXPLANATIONS = {
    "q339_semantic_dedup":
        "exact SemDeDup at the balanced sqrt(n)-centroid sizing is "
        "n^1.5 BY CONSTRUCTION (assignment n*sqrt(n) + within-cluster "
        "pairs n*sqrt(n)), and the gate pins the exact DECIMAL cosine "
        "kernel for the DuckDB oracle (~10x the fused double kernel "
        "production uses via deterministic=false); the LINEAR scale "
        "path is q341's LSH-banded sibling",
    "q341_semantic_dedup_lsh":
        "linear by design (corpus-scaled band width pins bucket "
        "occupancy); absolute cost is the md5-plane signature + exact "
        "decimal verify the oracle requires - production uses the "
        "xxhash native-codegen signature (lshSignature) and double "
        "cosine",
    "q123_containment":
        "join-OUTPUT-bound by fixture construction (audited round 12, "
        "measured on sf0.1 vs /tmp/sf1): the rehearsal replicates "
        "every doc 10x with only a 1-token copy tag, so the 10 clones "
        "of each doc are genuinely >=800-permille contained in each "
        "other - FINAL output pairs grow 349x (1,750 -> 610,430) and "
        "maxDf-capped join candidates 34x (2.81M -> 96.2M) on 10x "
        "data, while wall-clock grows only 12.1x (norm 1.21): the "
        "plan absorbs a super-linear OUTPUT sub-proportionally. The "
        "maxDf=100 stop-gram cap is active and load-bearing (11,517 "
        "grams over cap dropped at sf1; uncapped candidates would be "
        "304M). Real 10x growth without near-clone inflation keeps "
        "output ~linear and this gate with it",
    "q81_seq_decontam":
        "both the corpus AND the contamination set grow 10x, so the "
        "inverted-index join output grows ~linearly on each side; "
        "slightly-above-linear wall-clock is join-output-bound, not a "
        "plan defect",
    "q138_covariance_stats":
        "exactly-linear BY DESIGN: the dim-pair expansion runs inside "
        "the scan stage (no self-join), so cost tracks rows 1:1 - a "
        "data-bound map pass SHOULD sit at norm_ratio ~ 1",
    "q86_ivf_topk":
        "IVF probe work is (corpus/nlist)*queries per probe list; the "
        "gate grows the corpus 10x with the query set fixed, so probe "
        "cost tracks the data - linear, the designed IVF shape "
        "(sub-linearity comes from nprobe < nlist, which the gate "
        "already exploits; the residual is the assignment scan)",
}


def load_bench(path):
    with open(path) as f:
        b = json.loads(f.read().strip())
    assert b.get("qorder") == "numeric-asc", f"unexpected qorder in {path}"
    vals = [int(x) for x in b["qds"].split(",")]
    return b, vals


def main(b01_path, b1_path, oracle_path, out_path, ov_path=None,
         budgets_path=None):
    b01, v01 = load_bench(b01_path)
    b1, v1 = load_bench(b1_path)
    overrides = json.load(open(ov_path)) if ov_path else {}
    names = sorted(json.load(open(oracle_path)).keys(),
                   key=lambda n: int(n[1:].split("_")[0]))
    assert len(names) == len(v01) == len(v1), \
        f"axis mismatch: {len(names)} names, {len(v01)}/{len(v1)} values"
    # fail loud on typo'd override keys — a misspelled key would leave a
    # clamped entry unfixed with no signal otherwise
    unknown = sorted(set(overrides) - set(names))
    assert not unknown, f"override keys not in the gate axis: {unknown}"
    rows, n_super, n_watch = {}, [], []
    for name, a, b in zip(names, v01, v1):
        if a < 0 or b < 0:
            rows[name] = {"sf01_ds": a, "sf1_ds": b, "class": "FAILED"}
            continue
        src = None
        if name in overrides:
            if b != 999:
                print(f"WARNING: override for {name} but its bench "
                      f"value is {b}, not the 999 clamp — overriding "
                      "anyway (the re-measure takes precedence)",
                      file=sys.stderr)
            b, src = int(overrides[name]), "benchone"
        elif b == 999:
            src = "CLAMPED-999 (re-measure with graft.Bench <gate>)"
        denom = max(a, 3)  # 0.3 s noise floor on the small-SF side
        norm = round(b / (10.0 * denom), 2)
        cls = ("superlinear" if norm > 1.25 else
               "linear" if norm > 0.85 else "ok")
        rows[name] = {"sf01_ds": a, "sf1_ds": b, "norm_ratio": norm,
                      "class": cls}
        if src:
            rows[name]["sf1_source"] = src
        if cls != "ok" and name in EXPLANATIONS:
            rows[name]["explanation"] = EXPLANATIONS[name]
        if cls == "superlinear":
            n_super.append(name)
        elif cls == "linear":
            n_watch.append(name)
    report = {
        "protocol": {
            "data_growth": "10x (sf0.1 -> sf1 via tools/make_sf1.py)",
            "reps": {"sf0.1": b01.get("reps"), "sf1": b1.get("reps")},
            "unit": "deciseconds, per-query min across interleaved passes",
            "noise_floor_ds": 3,
            "classes": {"superlinear": "norm_ratio > 1.25",
                        "linear": "norm_ratio > 0.85"},
        },
        "totals": {"sf0.1_sec": b01.get("value"),
                   "sf1_sec": b1.get("value"),
                   "total_ratio": round(b1.get("value", 0) /
                                        max(b01.get("value", 1), 0.1), 2)},
        "summary": {"queries": len(names),
                    "superlinear": n_super, "linear": n_watch},
        "queries": rows,
    }
    # round-12 protocol extension (verdict ask #8): the shuffle-record
    # budgets' sf1 legs ride the SAME artifact — budgets_path maps
    # gate -> {"sf001": records, "sf1": records} measured via
    # `runMain graft.ShuffleAudit <sfDir> <gates>`; record the growth
    # ratio so budget + scale are asserted together.
    if budgets_path:
        raw = json.load(open(budgets_path))
        report["budgets_note"] = (
            "shuffle-WRITE records per gate, measured at sf0.01 (the "
            "ShuffleBudgetSpec pin point) and sf1 — a 100x data jump, "
            "so growth <= ~100 is sub-linear plan volume; growth ~1 "
            "is a bounded/fixed-shape plan (grids, band alphabets); "
            "growth >> 100 is a pair-shaped output documented in the "
            "gate's EXPLANATIONS entry or its COVERAGE row")
        report["budgets"] = {
            q: {"sf0.01_records": v["sf001"], "sf1_records": v["sf1"],
                "growth": round(v["sf1"] / max(v["sf001"], 1), 1)}
            for q, v in sorted(raw.items())}
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=False)
    print(f"queries={len(names)} superlinear={n_super} linear={n_watch}")
    print(f"totals: sf0.1={b01.get('value')}s sf1={b1.get('value')}s "
          f"ratio={report['totals']['total_ratio']}")


if __name__ == "__main__":
    main(*sys.argv[1:7])
