#!/usr/bin/env bash
# Pre-commit invariant: the tree must compile, pass its tests, and
# hash-match every registry query against its DuckDB oracle, and the
# bench must produce a metric line. Run this before committing; it
# exits non-zero (and says why) on any failure.
#
#   scripts/preflight.sh [sf_dir_verify] [sf_dir_bench]
#
# Defaults are the oracle gate's sf0.01 and the bench's sf0.1. Pass
# sf0.001 for both while iterating. The verify results, with the sf0.1
# and sf10 checks, land in CORRECTNESS_LOCAL.json.
set -uo pipefail
cd "$(dirname "$0")/.."

VERIFY_SF="${1:-/root/testdata/sf0.01}"
BENCH_SF="${2:-/root/testdata/sf0.1}"
OUT="$(mktemp -d /tmp/preflight.XXXXXX)"
ART="CORRECTNESS_LOCAL.json"
# two heavy-family queries (similarity/ANN) checked at 100x the sf0.1 data
SF10_QUERIES="s19_hybrid_rerank s3_ann_ivf"

fail() { echo "PREFLIGHT FAIL: $*" >&2; exit 1; }

echo "== preflight: compile =="
sbt -batch Test/compile >"$OUT/compile.log" 2>&1 \
  || fail "sbt Test/compile is red (see $OUT/compile.log)"

echo "== preflight: tests =="
sbt -batch test >"$OUT/test.log" 2>&1 \
  || fail "sbt test is red (see $OUT/test.log)"

echo "== preflight: verify @ $VERIFY_SF =="
sbt -batch "runMain graft.Verify $VERIFY_SF $OUT/verify" >"$OUT/verify.log" 2>&1 \
  || fail "graft.Verify crashed (see $OUT/verify.log)"
python3 scripts/check_correctness.py "$VERIFY_SF" "$OUT/verify" "$ART" \
  || fail "oracle mismatch (scroll up for the per-query FAIL rows)"
# the artifact must cover every query Verify dumped: a short run would
# hide missing entries behind an all-pass count
python3 - "$ART" "$OUT/verify" <<'EOF' || exit 1
import json, os, sys
art = json.load(open(sys.argv[1]))
n_results = sum(os.path.isdir(os.path.join(sys.argv[2], d))
                for d in os.listdir(sys.argv[2]))
n = len(art.get("queries", {}))
if n < n_results or n == 0:
    print(f"PREFLIGHT FAIL: correctness artifact has {n} entries "
          f"for {n_results} verify outputs", file=sys.stderr)
    sys.exit(1)
print(f"{sys.argv[1]}: {n} entries, {art['n_pass']} pass")
EOF

echo "== preflight: full-registry verify @ sf0.1 =="
# Defects that only show at larger data (a materialized CTE, coupled
# cells) have passed the sf0.01 gate before, so the whole registry is
# re-verified at sf0.1, 10x the gate's data.
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 $OUT/verify_sf01" \
  >"$OUT/verify_sf01.log" 2>&1 \
  || fail "graft.Verify @ sf0.1 crashed (see $OUT/verify_sf01.log)"
python3 scripts/check_correctness.py /root/testdata/sf0.1 "$OUT/verify_sf01" \
  "$OUT/sf01.json" \
  || fail "sf0.1 oracle mismatch (scroll up for FAIL rows)"
python3 - "$ART" "$OUT/sf01.json" <<'EOF' || exit 1
import json, sys
art = json.load(open(sys.argv[1]))
sf01 = json.load(open(sys.argv[2]))
if sf01.get("n_fail", 1) != 0 or sf01.get("n_pass", 0) == 0:
    print("PREFLIGHT FAIL: sf0.1 verify not green", file=sys.stderr)
    sys.exit(1)
art["sf01"] = {"queries": sorted(sf01.get("queries", {})),
               "n_pass": sf01["n_pass"]}
json.dump(art, open(sys.argv[1], "w"), indent=1)
print(f"sf0.1: {sf01['n_pass']} pass, recorded in {sys.argv[1]}")
EOF

echo "== preflight: sf10 heavy-family check =="
# Scale defects (a broadcast guard rejecting a small side on a bad
# estimate, a driver-side collect, a plan-size blowup) pass every oracle
# SF. The sf10 fixture is bench-grade (make_sf.py), so this check is
# rows-only: each query must produce readable, non-empty output.
if [ ! -d /tmp/sf10 ]; then
  echo "building /tmp/sf10 (make_sf.py 100x, one-time per machine)"
  python3 scripts/make_sf.py /root/testdata/sf0.1 /tmp/sf10 100 \
    >"$OUT/make_sf10.log" 2>&1 || fail "make_sf.py sf10 build failed"
fi
sbt -batch "runMain graft.Verify /tmp/sf10 $OUT/verify_sf10 $SF10_QUERIES" \
  >"$OUT/verify_sf10.log" 2>&1 \
  || fail "graft.Verify @ sf10 crashed (see $OUT/verify_sf10.log)"
python3 - "$ART" "$OUT/verify_sf10" $SF10_QUERIES <<'EOF' || exit 1
import json, sys
import duckdb
art_path, outdir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
rows = {}
for n in names:
    try:
        rows[n] = duckdb.sql(
            f"SELECT count(*) FROM '{outdir}/{n}/*.parquet'").fetchone()[0]
    except Exception as e:
        print(f"PREFLIGHT FAIL: sf10 query {n} produced no readable output: {e}",
              file=sys.stderr)
        sys.exit(1)
empty = [n for n, r in rows.items() if r == 0]
if empty:
    print(f"PREFLIGHT FAIL: sf10 queries returned zero rows: {empty}",
          file=sys.stderr)
    sys.exit(1)
art = json.load(open(art_path))
art["sf10"] = {"queries": rows, "check": "rows_only"}
json.dump(art, open(art_path, "w"), indent=1)
print(f"sf10: {rows} rows, recorded in {art_path}")
EOF

echo "== preflight: bench @ $BENCH_SF =="
SPARK_GRAFT_SF_DIR="$BENCH_SF" sbt -batch "runMain graft.Bench" \
  >"$OUT/bench.log" 2>&1 \
  || fail "graft.Bench crashed (see $OUT/bench.log)"
grep '"metric"' "$OUT/bench.log" | tail -1 | tee "$OUT/bench.json"
[ -s "$OUT/bench.json" ] || fail "bench emitted no metric line (see $OUT/bench.log)"
python3 - "$OUT/bench.json" <<'EOF' || exit 1
import json, sys
b = json.load(open(sys.argv[1]))
errs = {k: v for k, v in b.get("errors", {}).items()} if isinstance(b.get("errors"), dict) else {}
if errs:
    print(f"PREFLIGHT FAIL: bench reported per-query errors: {errs}", file=sys.stderr)
    sys.exit(1)
print(f"bench total: {b['value']} {b['unit']} over {len(b.get('queries', {}))} queries")
EOF

# Per-query report vs the frozen baseline (informational: it prints
# rather than fails). Bench reports per-query medians; a >2x ratio on a
# query worth seconds deserves a SPARK_GRAFT_ONLY=<name> bench run.
python3 - "$OUT/bench.json" <<'EOF'
import json, sys
try:
    base = json.load(open("BASELINE_QUERIES.json"))["queries"]
except FileNotFoundError:
    sys.exit(0)
cur = json.load(open(sys.argv[1])).get("queries", {})
if cur and not (set(cur) & set(base)):
    # the compact line carries PREFIX keys (keys:"prefix"); the
    # full-name dict lives in the sidecar the line points at
    try:
        cur = json.load(open(json.load(open(sys.argv[1]))
                             .get("queries_file", "BENCH_LAST.json")))["queries"]
    except FileNotFoundError:
        pass
ratios = sorted(((k, v, base[k], v / base[k]) for k, v in cur.items()
                 if k in base and base[k] > 0 and v > 0),
                key=lambda t: -t[3])[:5]
print("top-5 median / frozen baseline (query, median, baseline, ratio):")
for k, v, b, r in ratios:
    print(f"  {k}: {v:.2f}s vs {b:.2f}s = {r:.2f}x")
new = sorted(k for k in cur if k not in base)
if new:
    print(f"  (no baseline yet: {', '.join(new)})")
EOF

echo "== preflight: clean tree check =="
# BENCH_LAST.json is rewritten by the bench run and CORRECTNESS_LOCAL.json
# by the verify steps above: commit them with the preflight result, but
# don't let them fail the check
if [ -n "$(git status --porcelain | grep -v ' BENCH_LAST.json$' | grep -v " $ART\$")" ]; then
  git status --short
  fail "working tree is dirty - commit (or clean) before calling the tree done"
fi

echo "PREFLIGHT OK (logs in $OUT)"
