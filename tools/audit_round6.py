#!/usr/bin/env python3
"""Generate AUDIT_ROUND6.md — the §4 rounded-aggregate audit.

Scans src/main for every site that rounds a sum/avg aggregate (the
class both round-12 driver flakes belonged to), classifies each by the
rule table below, and writes the audit doc with a machine-readable
manifest enforced by graft.relational.Round6AuditSpec: a new or edited
site that doesn't match the committed manifest fails the suite until
it is re-audited here.

Classes (see AUDIT_ROUND6.md prose for the full reasoning):
  GRID-EXACT  exact integer/DECIMAL arithmetic end-to-end (MicroGrid or
              DECIMAL sums); the rounding decision happens on an exact
              number — layout- and host-invariant by construction.
  INT-EXACT   sums of integer-valued data; double sums are exact below
              2^53, so rounding is decided on the exact value.
  INT-RATIO   exact integer/decimal sums divided then rounded: layout-
              invariant (sums exact); a cross-engine tie needs
              num*2e6/den to be an odd integer (v2(den) >= 7+v2(num)),
              and any flip fails the oracle gate loudly, never silently.
  GENERIC     order-dependent double aggregate of off-grid continuous
              values (sqrt/log/ratio outputs) rounded with a margin
              (grid/2 over the accumulation-error bound) >= ~50x;
              probabilistic, monitored by the dual-layout sweep every
              round close.
  BOUNDED     K-bounded frames (tens of terms, driver- or oracle-side):
              error ~1e-15 x magnitude, margins >= 1e6.
"""
import re, glob, os, sys

PAT = re.compile(r'round\s*\(.*\b(sum|avg)\s*\(|\br6\s*\(.*\b(sum|avg)\s*\(')

# (file-substring, line-regex, class) — first match wins
RULES = [
    # converted / decimal-exact sites
    (r'', r'DECIMAL', 'GRID-EXACT'),
    (r'Mix\.scala', r'DIV \(2 \* padded_tokens\)|1000000 \+ padded_tokens', 'GRID-EXACT'),
    # integer-valued data (l_quantity is integral; counts; token counts)
    (r'', r'sum\("?l_quantity"?\)', 'INT-EXACT'),
    (r'', r'sum\(l_quantity\)', 'INT-EXACT'),
    (r'Relational', r"l_linestatus = 'F'|l_linestatus = 'O'", 'INT-EXACT'),
    # integer-sum ratios (counts / integer masses divided then rounded)
    (r'', r'sum\("nst"\)\.cast\("double"\) / sum\("nw"\)', 'INT-RATIO'),
    (r'', r'sum\(list_sum\(list_transform\(ws', 'INT-RATIO'),
    (r'', r'sum\(CASE WHEN', 'INT-RATIO'),
    (r'', r'sum\("label"\)\.cast\("double"\) / count', 'INT-RATIO'),
    (r'', r'sum\(label\)', 'INT-RATIO'),
    (r'CorpusStats', r'avg\(size\(col\("ws"\)\)\)|avg\(len\(string_split', 'INT-RATIO'),
    (r'CorpusStats', r'avg\(col\("n_chars"\)\)|avg\(n_chars\)', 'INT-RATIO'),
    (r'Relational', r'avg\("k"\)|avg\(CAST\(json_extract_string', 'INT-RATIO'),
    # clustering center / objective aggregates: off-grid continuous
    # inputs (distances, raw dims), avg divides the error by n
    (r'clustering/', r'avg\(', 'GENERIC'),
    (r'clustering/GKA', r'sum\(iv\)', 'GENERIC'),
    (r'clustering/KMeans', r'sum\(\(cnt / nc\)', 'BOUNDED'),
    # k-means|| phi, Spark side: an order-dependent double sum of d^2
    # over every point (off-grid continuous inputs)
    (r'clustering/KMeans', r'r6\(base\.agg\(sum\(d2\)\)', 'GENERIC'),
    # LM / entropy / KL / PSI / chi2 scores: log outputs are off-grid
    (r'CorpusStats|Analytics|Relational', r'log2|ln\(|entropy', 'GENERIC'),
    (r'Analytics', r'\(o - e\)|\(o - rt', 'GENERIC'),
    # means/stddevs of 2-decimal or continuous data: error/n margins
    (r'', r'avg\(', 'GENERIC'),
    (r'', r'stddev|var_samp', 'GENERIC'),
    # small-magnitude value sums (events.value ~1e2, groups of ~1e2-1e4
    # rows; margin >= 1e6) and share/weight sums (~1)
    (r'Relational|Analytics', r'sum\("?value"?\)|sum\(value\)', 'GENERIC'),
    (r'Mix', r'sum\("?w"?\)', 'GENERIC'),
    (r'Analytics', r'share \* share|col\("share"\)', 'GENERIC'),
    (r'Analytics', r'rev - rev7|rev"\) - col\("rev7', 'GRID-EXACT'),
    (r'Analytics', r'sum\("rev"\)\.cast', 'GRID-EXACT'),
    (r'Analytics', r'sqrt\(sum\(c \* c\)\)|sqrt\(sum\(col\("c"\)', 'GENERIC'),
    (r'Analytics', r'sum\("s"\)|sum\(s\)', 'GRID-EXACT'),
    (r'dedup/Dedup', r'avg\("sz"\)|avg\(sz\)', 'INT-RATIO'),
    (r'search/PQ', r'avg\(', 'GENERIC'),
    (r'search/SimSearch', r'avg\(dist\)|avg\("dist"\)', 'GENERIC'),
    (r'TextAnalysis', r'sum\("part"\)|sum\($', 'GENERIC'),
    # decimal sums divided (profile mean, share ratios)
    (r'Analytics', r'decimal\(38,6\)', 'INT-RATIO'),
    # chi2 / PSI Spark sides: rational/log terms, off-grid
    (r'Analytics', r'col\("o"\) - col\("e"\)|r_day', 'GENERIC'),
    # trade_flows: per-row product cast to DECIMAL then decimal-summed
    (r'Analytics', r'CAST\(l_extendedprice \* \(1\.0 - l_discount|sum\(rev\)', 'GRID-EXACT'),
    # agg_salted two-phase value sums: small magnitude, margin >= 1e6
    (r'Relational', r'sum\("c"\)\.as\("n_events"\)', 'GENERIC'),
    # markov stationary normalization: bounded state frame (~5 types)
    (r'Relational', r'SELECT sum\(raw\)', 'BOUNDED'),
    # DSIR/source-KL ratio-term sums: off-grid ratios
    (r'CorpusStats', r'CAST\(csw AS DOUBLE\) / ns', 'GENERIC'),
    # centroid-drift oracle: diff is an exact DECIMAL(18,6) grid value,
    # sum(diff*diff) is an exact scale-12 DECIMAL sum (order-free)
    (r'search/Drift', r'sum\(diff \* diff\)', 'GRID-EXACT'),
    # KM survival: ln(1-d/n) terms over the 26-row week frame,
    # accumulated by an ORDERED running window (sequential identical
    # order both engines at this frame size — measured; see
    # Survival.scala scaladoc), then exp + round 6
    (r'relational/Survival', r'exp\(sum\("lnterm"\)', 'BOUNDED'),
]

def classify(path, line):
    for fsub, lre, cls in RULES:
        if (not fsub or re.search(fsub, path)) and re.search(lre, line):
            return cls
    return None

def inventory():
    out = []
    for f in sorted(glob.glob('src/main/**/*.scala', recursive=True)):
        rel = os.path.relpath(f, 'src/main/scala')
        for line in open(f):
            if PAT.search(line):
                out.append((rel, ' '.join(line.split())))
    return out

def main():
    inv = inventory()
    rows, unclassified = [], []
    for path, line in inv:
        cls = classify(path, line)
        if cls is None:
            unclassified.append((path, line))
        else:
            rows.append((cls, path, line))
    if unclassified:
        for p, l in unclassified:
            print(f"UNCLASSIFIED {p}: {l}", file=sys.stderr)
        sys.exit(f"{len(unclassified)} unclassified sites — extend RULES")
    counts = {}
    for cls, _, _ in rows:
        counts[cls] = counts.get(cls, 0) + 1
    with open('AUDIT_ROUND6.md', 'w') as f:
        f.write(HEADER)
        f.write("\n## Counts\n\n")
        for cls in sorted(counts):
            f.write(f"- {cls}: {counts[cls]}\n")
        f.write(f"- TOTAL: {len(rows)}\n")
        f.write("\n## Manifest\n\n"
                "One line per audited site: `CLASS<TAB>file<TAB>collapsed "
                "source line`. Round6AuditSpec recomputes this inventory "
                "from src/main and fails on any difference — a new or "
                "edited rounded-aggregate site must be re-audited (and "
                "this file regenerated via tools/audit_round6.py) before "
                "the suite passes.\n\n```\n")
        for cls, path, line in rows:
            f.write(f"{cls}\t{path}\t{line}\n")
        f.write("```\n")
    print(f"AUDIT_ROUND6.md: {len(rows)} sites, counts {counts}")

HEADER = """# §4 rounded-aggregate audit (round 13)

Every src/main site that applies `round(..., n)` (or driver-side `r6`)
to a `sum`/`avg` aggregate, classified per the SURVEY §4 determinism
rules. This is the static audit the round-12 verdict asked for: the two
driver hash flakes (`embed_covariance`, `pipeline_length_buckets`) and
the three dual-layout-sweep catches (`kmeans_bic`,
`kmeans_calinski_harabasz`, `rollup_revenue`) all belonged to this
class, and every remaining member is now either converted to exact
arithmetic or documented safe below.

## Classes

- **GRID-EXACT** — converted: exact integer (MicroGrid) or DECIMAL
  arithmetic end-to-end; every rounding decision happens on an exact
  number. Layout- and host-invariant by construction. Includes the
  round-13 conversions: covariance/gram family, waste_frac, BIC msd,
  Calinski-Harabasz W/B, rollup/q1/cube/grouping-sets/join revenue and
  pricing sums (money at 1e9+ magnitude where double error approaches
  the 0.05 grid at sf1), agg_incremental, seasonal-naive mae/bias.
- **INT-EXACT** — aggregates of integer-valued data (`l_quantity` is
  integral in every testdata generation; counts): double sums are exact
  below 2^53, so the round acts on the exact value.
- **INT-RATIO** — exact integer/decimal sums divided, then rounded:
  the sums are order-free (layout-invariant — the dual-layout sweep
  can never flip them); the only residual risk is a cross-engine
  rounding-implementation tie, which requires `num*2e6/den` to be an
  odd integer (possible only when `v2(den) >= 7 + v2(num)`, since
  2e6 = 2^7 * 5^6 * ...). Data-structural, not flaky: a tie either
  exists for a dataset (and fails the oracle gate loudly on the first
  run) or never occurs. The one observed instance (waste_frac) is
  converted; remaining members are fraction/ratio reports whose
  denominators are corpus counts.
- **GENERIC** — order-dependent double aggregates of off-grid
  continuous inputs (sqrt/log/ratio/stddev outputs, small-magnitude
  event values): the true value is provably NOT on the decimal
  midpoint grid (the structural-tie class), so a flip needs the
  accumulated error to cross a midpoint the true value happens to sit
  within error of — probability (error/grid) per aggregate. Margins
  (grid/2 over the sqrt(n) error bound) are >= ~50x for the clustering
  center/objective aggregates and >= 1e5 for the LM-score / event-value
  family. Monitored empirically: the dual-layout sweep re-checks every
  one of these per round close, and a flip converts the site.
- **BOUNDED** — K-bounded frames (tens of terms): error ~1e-15 x
  magnitude, margins >= 1e6.

Known residual (documented, accepted): GENERIC sites are probabilistic
by nature; the sweep is the detection net, and the conversion recipe
(MicroGrid quantization at a magnitude-appropriate grid) is proven by
the five round-13 conversions.

Empirical INT-RATIO evidence (round 13): a cross-engine rounding tie
needs v2(den) >= 7 + v2(num) (2e6 = 2^7 * 5^6 * ...). Every testdata
table count has v2 <= 6 — sf0.001: documents/embeddings 500 (v2=2),
events 1000 (3), lineitem 6000 (4), orders 1500 (2), customer 150 (1);
sf0.01: lineitem 60000 (5), events 10000 (4); sf0.1: lineitem 600000
(6), embeddings 2000 (4) — so every INT-RATIO site whose denominator
is a whole-table (or whole-corpus truth-set) count is PROVABLY
tie-free on the driver's data; only small per-group counts divisible
by 128 could tie, and such a flip fails the oracle gate loudly on its
first run rather than silently.
"""

if __name__ == '__main__':
    main()
