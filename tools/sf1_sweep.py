#!/usr/bin/env python3
"""Reduce full-registry graft.Bench runs at two scales (sf0.1 and
bench_sf1) into BENCH_SF1.json: per-query seconds at both SFs and the
growth factor at 10x documents. Each side's seconds are the ledger's
`first_s` (one cold build + count per query, any Memo build included),
the min across that side's runs. Driver-side tooling only; usage:

  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_REPS=1 \
    SPARK_GRAFT_BENCH_OUT=/tmp/sweep_sf01.json sbt "runMain graft.Bench"
  SPARK_GRAFT_SF_DIR=<repo>/bench_sf1 SPARK_GRAFT_REPS=1 \
    SPARK_GRAFT_BENCH_OUT=/tmp/sweep_sf1.json sbt "runMain graft.Bench"
  python3 tools/sf1_sweep.py /tmp/sweep_sf01.json /tmp/sweep_sf1.json

Either argument may be a comma-separated list of Bench JSONs (several
runs per side). Bench runs on SPARK_GRAFT_CPUS cores (every core when
unset); set SPARK_GRAFT_CPUS=32 to reproduce BENCH_SF1.json's local[32]
sweeps. Self-test: python3 tools/test_sf1_sweep.py
"""
import json, sys, datetime, os

def parse(paths):
    """Comma-separated Bench JSONs -> {query: seconds}, the per-query
    MIN of `ledger.<q>.first_s` across runs. One run is hostage to a
    noisy-host window spanning its single shot (the same discipline as
    Bench's min of reps -- observed: unchanged-table queries at 10x
    'growth' in a run timed during a noise window, back to ~1x under
    min-of-runs). A query a run lists in `errors` is not timed by it."""
    out = {}
    for path in paths.split(","):
        with open(path) as f:
            doc = json.load(f)
        failed = set(doc.get("errors", []))
        for k, row in doc.get("ledger", {}).items():
            s = row.get("first_s")
            if k in failed or s is None:
                continue
            out[k] = min(s, out.get(k, s))
    return out

BOUND = 12.0  # linear-plus-overhead at 10x documents

# Outliers with a verified DATA-driven cause (measured, not assumed):
# the bound stays enforced for everything else.
OUTLIER_NOTES = {
    "dedup_tfidf_cosine": (
        "the query's OUTPUT is the verified near-dup pair list, and the "
        "adversarial corpus grows it 10.6x (13,481 -> 143,436 pairs at "
        "10x documents: every doc gains 10 near-copies, so candidate "
        "AND verified pairs scale with copies-per-family x documents). "
        "Measured growth 13.2x tracks the 10.6x output within bucketed-"
        "join overhead; a real corpus' pair list grows ~linearly and "
        "stays inside the bound."),
    "text_boilerplate_frac": (
        "linear in FREQUENT-gram occurrences, and the adversarial corpus "
        "flips that fraction from ~0% to ~98%: at sf0.1 zero word-5-grams "
        "meet the df threshold (join output ~0 rows); at bench_sf1 every "
        "doc has 10 near-copies so 237k of 287k distinct grams are "
        "frequent and 2.5M of 2.56M occurrences join back. The work is "
        "proportional to matched occurrences (0 -> 2.5M), which no plan "
        "change removes for an exact answer; a real 100 TB corpus has a "
        "small boilerplate fraction, the adversarial one is ~all."),
    "dedup_decontaminate_matrix": (
        "the matrix deliberately runs the EXACT unfiltered gram leg next "
        "to the Bloom-prefiltered one as a standing agreement cross-check "
        "(bloom column must equal gram column), so its sweep growth is the "
        "SUM of its members' - and the exact leg alone is the documented "
        "9.0x head (the corpus-side gram explosion on the adversarial "
        "all-near-dup corpus is why the registered dedup_decontaminate "
        "rides the bloom). Measured 12.9x = exact(9.0x) + bloom(4.9x) + "
        "embed legs within single-shot noise; a real corpus' contamination "
        "is sparse and both gram legs scale with matched occurrences, not "
        "documents. Dropping the exact leg would erase the cross-check, "
        "not the work a release gate actually ships."),
    "graph_common_neighbors": (
        "common-neighbor counting is Theta(sum deg^2) wedge work. Round 9 "
        "implemented the mutual per-center hub cap (32, via TopKPerKey; "
        "the verified graph's super-hubs reach deg 10853 at sf1) that "
        "removed this outlier -- if it reappears over the bound, the cap "
        "regressed or the corpus shape changed."),
}

def sweep(a, b):
    """The BENCH_SF1.json document for seconds maps `a` (sf0.1) and `b`
    (bench_sf1); a query timed at only one scale is skipped."""
    qs, outliers = {}, []
    for name in sorted(a):
        if name not in b:
            continue
        s01, s1 = a[name], b[name]
        growth = round(s1 / s01, 2) if s01 > 0 else None
        qs[name] = {"sf0.1_sec": round(s01, 3), "sf1_sec": round(s1, 3),
                    "growth_x": growth}
        if growth and growth > BOUND:
            outliers.append(name)
    return {
        "metric": "sf1_scaling_checkpoint",
        "what": ("measured wall-clock growth of EVERY registered query when "
                 "the documents table grows 10x (sf0.1 -> bench_sf1, 5k -> 50k "
                 "docs; every doc in a 10-doc NEAR-dup family -- the "
                 "adversarial case for candidate generation; non-document "
                 "tables unchanged, so relational queries measure harness "
                 "noise around 1x). Generated by tools/gen_sf1.py; timed by "
                 "graft.Bench at SPARK_GRAFT_REPS=1 (ledger first_s: one cold "
                 "build + count), per-query MIN across runs (comma-separated "
                 "Bench JSONs per side), single JVM per run, local[32]; "
                 "reduced by tools/sf1_sweep.py."),
        "bound": f"document-reading queries must grow <= {BOUND}x "
                 "(linear-plus-overhead); outliers listed explicitly",
        "n_queries": len(qs),
        "outliers_over_bound": outliers,
        "outlier_notes": {k: OUTLIER_NOTES[k] for k in outliers if k in OUTLIER_NOTES},
        "queries": qs,
        "date": datetime.date.today().isoformat(),
    }

def main():
    doc = sweep(parse(sys.argv[1]), parse(sys.argv[2]))
    qs, outliers = doc["queries"], doc["outliers_over_bound"]
    dst = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCH_SF1.json")
    with open(dst, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    worst = sorted((v["growth_x"], k) for k, v in qs.items() if v["growth_x"])[-10:]
    print(f"{len(qs)} queries, outliers >{BOUND}x: {outliers or 'none'}")
    for g, k in reversed(worst):
        print(f"  {k:32s} {qs[k]['sf0.1_sec']:8.2f}s -> {qs[k]['sf1_sec']:8.2f}s  {g}x")

if __name__ == "__main__":
    main()
