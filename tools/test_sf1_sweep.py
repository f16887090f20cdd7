#!/usr/bin/env python3
"""Self-test for tools/sf1_sweep.py: from two hand-written Bench JSONs
per scale, the reducer must take each query's MIN ledger `first_s`
across runs, divide for the growth factor, skip a query timed at only
one scale (or listed in a run's `errors`), and flag growth past the
bound. Writes nothing to the repo: it calls the reducer's functions.

Usage: python3 tools/test_sf1_sweep.py
"""
import json, os, shutil, sys, tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import sf1_sweep

def bench(path, first_s, errors=()):
    """A Bench JSON with the fields the reducer reads, plus the
    headline fields around them."""
    doc = {"metric": "total", "value": sum(first_s.values()), "unit": "sec",
           "queries": {q: s / 2 for q, s in first_s.items()},
           "bytes": {}, "errors": list(errors), "reps": 1, "sf": "x",
           "ledger": {q: {"build_s": 0.1, "first_s": s, "out_s": s}
                      for q, s in first_s.items()}}
    with open(path, "w") as f:
        json.dump(doc, f)
    return path

def main():
    tmp = tempfile.mkdtemp(prefix="sf1sweep-test-")
    try:
        p = lambda n: os.path.join(tmp, n)
        small = ",".join([
            bench(p("a1.json"), {"q_lin": 2.0, "q_flat": 1.0, "q_only_small": 5.0,
                                 "q_blowup": 1.0, "q_err": 1.0}),
            bench(p("a2.json"), {"q_lin": 1.0, "q_flat": 1.5, "q_blowup": 2.0,
                                 "q_err": 9.0}, errors=["q_err"])])
        large = ",".join([
            bench(p("b1.json"), {"q_lin": 12.0, "q_flat": 1.1, "q_only_large": 3.0,
                                 "q_blowup": 30.0, "q_err": 0.5}, errors=["q_err"]),
            bench(p("b2.json"), {"q_lin": 10.0, "q_flat": 1.4, "q_blowup": 25.0})])
        a, b = sf1_sweep.parse(small), sf1_sweep.parse(large)
        assert a == {"q_lin": 1.0, "q_flat": 1.0, "q_only_small": 5.0,
                     "q_blowup": 1.0, "q_err": 1.0}, a
        assert b == {"q_lin": 10.0, "q_flat": 1.1, "q_only_large": 3.0,
                     "q_blowup": 25.0}, b
        doc = sf1_sweep.sweep(a, b)
        qs = doc["queries"]
        assert sorted(qs) == ["q_blowup", "q_flat", "q_lin"], sorted(qs)
        assert qs["q_lin"] == {"sf0.1_sec": 1.0, "sf1_sec": 10.0, "growth_x": 10.0}, qs
        assert qs["q_flat"]["growth_x"] == 1.1, qs
        assert doc["n_queries"] == 3
        assert doc["outliers_over_bound"] == ["q_blowup"], doc["outliers_over_bound"]
        print("test_sf1_sweep: OK (min first_s per side, growth, one-scale "
              "and errored queries skipped, outlier flagged)")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

if __name__ == "__main__":
    main()
