#!/usr/bin/env bash
# End-of-session invariant: the committed tree must compile, every
# registry query must hash-match its DuckDB oracle, and the bench must
# produce a metric line. Run this before the final commit of a session;
# it exits non-zero (and says why) on any failure.
#
#   scripts/preflight.sh [sf_dir_verify] [sf_dir_bench]
#
# Defaults mirror the driver's gates: verify at sf0.01, bench at sf0.1.
# Pass sf0.001 for both while iterating.
set -uo pipefail
cd "$(dirname "$0")/.."

VERIFY_SF="${1:-/root/testdata/sf0.01}"
BENCH_SF="${2:-/root/testdata/sf0.1}"
OUT="$(mktemp -d /tmp/preflight.XXXXXX)"

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
# Current round = last round seen in PROGRESS.jsonl (the driver appends
# one line per poll); the local artifact makes this round's correctness
# signal survive a driver-side artifact hiccup.
ROUND="$(python3 -c 'import json;print(json.loads(open("PROGRESS.jsonl").readlines()[-1])["round"])' 2>/dev/null || echo 0)"
LOCAL_ART="CORRECTNESS_LOCAL_r${ROUND}.json"
python3 scripts/check_correctness.py "$VERIFY_SF" "$OUT/verify" "$LOCAL_ART" \
  || fail "oracle mismatch (scroll up for the per-query FAIL rows)"
# the local artifact must cover every SparkEntry query (a short run
# would mask missing entries exactly like the r15 empty artifact did)
python3 - "$LOCAL_ART" "$OUT/verify" <<'EOF' || exit 1
import json, os, sys
art = json.load(open(sys.argv[1]))
n_results = sum(os.path.isdir(os.path.join(sys.argv[2], d))
                for d in os.listdir(sys.argv[2]))
n = len(art.get("queries", {}))
if n < n_results or n == 0:
    print(f"PREFLIGHT FAIL: local correctness artifact has {n} entries "
          f"for {n_results} verify outputs", file=sys.stderr)
    sys.exit(1)
print(f"local artifact: {n} entries, {art['n_pass']} pass")
EOF

echo "== preflight: rotating sf0.1 verify subset =="
# The r18 CTE-materialization and cell-coupling bugs were both
# INVISIBLE at the sf0.01 gate — the gate SF was the blind spot for
# three rounds. Every preflight therefore re-verifies a deterministic
# ROTATING subset of queries at sf0.1 (10x the gate SF): 15 queries
# picked by md5(round:name), so every query gets a 10x-SF check every
# ~10 rounds at ~1 min cost. The subset list lands in the local
# artifact's `sf01_subset` field.
# Every THIRD round the subset expands to the FULL registry (the
# r20-item-5 sweep that caught x34, run by hand in r20 and r21 — now on
# a standing schedule): ~4 min extra, and the local artifact records
# `sf01_full: true` when it fires so the judge can see which rounds
# carried the full 10x-SF oracle pass.
SUBSET="$(python3 - "$ROUND" <<'EOF'
import hashlib, json, re, sys
round_n = sys.argv[1]
names = sorted(json.load(open(
    max(__import__('glob').glob('CORRECTNESS_r*.json'),
        key=lambda p: int(re.search(r'r(\d+)', p).group(1))))).keys())
ranked = sorted(names, key=lambda n: hashlib.md5(f"{round_n}:{n}".encode()).hexdigest())
if not ranked:
    # fail HERE with the real cause: deriving an empty subset from an
    # empty {} driver artifact (the r15/r16 failure mode) would invoke
    # graft.Verify with no query args and misattribute the eventual
    # 'subset not green' failure (r19 advice)
    print("source CORRECTNESS artifact has no query names - the sf0.1 "
          "subset cannot be derived from an empty {}", file=sys.stderr)
    sys.exit(1)
if int(round_n) % 3 == 0:
    print(" ".join(names))  # full-registry sweep round
else:
    print(" ".join(ranked[:15]))
EOF
)" || fail "sf0.1 subset derivation failed (see message above)"
echo "sf0.1 subset (round $ROUND): $SUBSET"
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 $OUT/verify_sf01 $SUBSET" \
  >"$OUT/verify_sf01.log" 2>&1 \
  || fail "graft.Verify @ sf0.1 crashed (see $OUT/verify_sf01.log)"
python3 scripts/check_correctness.py /root/testdata/sf0.1 "$OUT/verify_sf01" \
  "$OUT/sf01_subset.json" \
  || fail "sf0.1 subset oracle mismatch (scroll up for FAIL rows)"
python3 - "$LOCAL_ART" "$OUT/sf01_subset.json" <<'EOF' || exit 1
import json, sys
art = json.load(open(sys.argv[1]))
sub = json.load(open(sys.argv[2]))
if sub.get("n_fail", 1) != 0 or sub.get("n_pass", 0) == 0:
    print("PREFLIGHT FAIL: sf0.1 subset not green", file=sys.stderr)
    sys.exit(1)
art["sf01_subset"] = {"queries": sorted(sub.get("queries", {})),
                      "n_pass": sub["n_pass"]}
# full-sweep rounds: the subset covered the whole registry
if len(sub.get("queries", {})) >= len(art.get("queries", {})) > 0:
    art["sf01_full"] = True
json.dump(art, open(sys.argv[1], "w"), indent=1)
print(f"sf0.1 subset: {sub['n_pass']} pass, recorded in {sys.argv[1]}")
EOF

echo "== preflight: rotating sf10 heavy-family spot check =="
# r19's BY-HAND sf10 exercise caught a real scale defect (the broadcast
# guard's no-CBO estimate falsely rejecting 20-row query sets) that was
# invisible at every gate SF — so the exercise is now a standing step.
# Two HEAVY-family queries (similarity/dedup/stream/cluster/pipeline)
# rotate by md5(round:name) and run at 100x the gate SF against the
# make_sf.py fixture (rows-only: the fixture is bench-grade, the DuckDB
# oracle stays at the driver SFs). Failures here are scale defects:
# guard false-positives, driver-side collects, plan-size blowups.
if [ ! -d /tmp/sf10 ]; then
  echo "building /tmp/sf10 (make_sf.py 100x, one-time per machine)"
  python3 scripts/make_sf.py /root/testdata/sf0.1 /tmp/sf10 100 \
    >"$OUT/make_sf10.log" 2>&1 || fail "make_sf.py sf10 build failed"
fi
SF10_SUBSET="$(python3 - "$ROUND" <<'EOF'
import hashlib, json, re, sys
names = sorted(json.load(open(
    max(__import__('glob').glob('CORRECTNESS_r*.json'),
        key=lambda p: int(re.search(r'r(\d+)', p).group(1))))).keys())
heavy = [n for n in names if re.match(r'(s|st|d|c|e|p)\d', n)]
ranked = sorted(heavy,
    key=lambda n: hashlib.md5(f"sf10:{sys.argv[1]}:{n}".encode()).hexdigest())
if not ranked:
    print("no heavy-family query names in the source artifact", file=sys.stderr)
    sys.exit(1)
print(" ".join(ranked[:2]))
EOF
)" || fail "sf10 subset derivation failed (see message above)"
echo "sf10 subset (round $ROUND): $SF10_SUBSET"
sbt -batch "runMain graft.Verify /tmp/sf10 $OUT/verify_sf10 $SF10_SUBSET" \
  >"$OUT/verify_sf10.log" 2>&1 \
  || fail "graft.Verify @ sf10 crashed (see $OUT/verify_sf10.log)"
python3 - "$LOCAL_ART" "$OUT/verify_sf10" $SF10_SUBSET <<'EOF' || exit 1
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
art["sf10_subset"] = {"queries": rows, "check": "rows_only"}
json.dump(art, open(art_path, "w"), indent=1)
print(f"sf10 subset: {rows} rows, recorded in {art_path}")
EOF

echo "== preflight: correctness-artifact guard =="
# r15/r16 closed with EMPTY driver CORRECTNESS files ({}) — the gate
# silently lost its signal. Refuse to call a session done while the
# newest driver artifact parses to zero/short entries UNLESS a
# populated, passing local rerun with round >= that artifact's round
# covers it. This guard runs AFTER the verify step above (which writes
# CORRECTNESS_LOCAL_r{ROUND}.json), so a fresh preflight run always
# satisfies its own remediation — no self-deadlock (r16 ADVICE).
# Rounds <= 15 are grandfathered (judge reran the gate by hand).
python3 - <<'EOF' || exit 1
import glob, json, re, sys
def rnd(p): return int(re.search(r"r(\d+)", p).group(1))
arts = sorted(glob.glob("CORRECTNESS_r*.json"), key=rnd)
if not arts:
    sys.exit(0)
latest = arts[-1]
k = rnd(latest)
n = len(json.load(open(latest)) or {})
if n > 0:
    print(f"driver artifact {latest}: {n} entries — ok")
    sys.exit(0)
for local in sorted(glob.glob("CORRECTNESS_LOCAL_r*.json"), key=rnd):
    if rnd(local) < k:
        continue
    loc = json.load(open(local))
    if loc.get("n_fail", 1) == 0 and loc.get("n_pass", 0) > 0:
        print(f"driver artifact {latest} is EMPTY, but {local} covers it "
              f"({loc['n_pass']} pass) — ok")
        sys.exit(0)
if k <= 15:
    print(f"driver artifact {latest} is EMPTY (adjudicated in "
          f"VERDICT.md r15; grandfathered)")
    sys.exit(0)
print(f"PREFLIGHT FAIL: {latest} parses to zero entries and no passing "
      f"CORRECTNESS_LOCAL_r>={k}.json exists — the verify step above "
      f"should have written one; check its output", file=sys.stderr)
sys.exit(1)
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
# BENCH_LAST.json is rewritten by the bench run itself, and the local
# correctness artifact is written by the verify step above - commit
# them with the preflight result, but don't let them fail the check
if [ -n "$(git status --porcelain | grep -v ' BENCH_LAST.json$' | grep -v ' CORRECTNESS_LOCAL_r[0-9]*.json$')" ]; then
  git status --short
  fail "working tree is dirty - commit (or clean) before calling a session done"
fi

echo "PREFLIGHT OK (logs in $OUT)"
