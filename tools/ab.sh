#!/usr/bin/env bash
# A/B timing of registry queries between two git refs, in one window.
#
#   tools/ab.sh <refA> <refB> <queries> [pairs]
#   tools/ab.sh --report <jsonl>
#
# Exports each ref (git archive) into a temporary directory outside the
# repository, compiles it once with sbt, and removes both on exit. Then
# boots graft.Bench `pairs` times per side (default 3) with
# SPARK_GRAFT_ONLY=<queries> (comma-separated), the side that boots first
# alternating from pair to pair, and appends one line per boot to
# bench/ab_<refA>_<refB>.jsonl:
#   {"cell", "pair", "side", "boot_order", "code", "record"}
# `record` is the boot's full Bench record (null if it printed none) and
# `cell` is one more than the last cell already in the file.
#
# The report (printed after the runs, or by --report) pools each side's
# raw runs per query and cell: each side's median and quartiles, the ratio
# B/A of the medians, and the pairs in which B's per-boot median was
# lower. The side that appears first in the file is A.
#
# Passed through: Bench's SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
# SPARK_GRAFT_BENCH_RUNS and SPARK_GRAFT_CC_MAX_DRIVER_EDGES; SBT_OPTS for
# the builds; SPARK_DRIVER_MEM for the boots' heap (default 8g, as in
# build.sbt).
set -euo pipefail

report() {
  python3 - "$1" <<'PY'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
sides = list(dict.fromkeys(r["side"] for r in rows))
if len(sides) != 2:
    sys.exit(f"expected two sides, found {sides}")
a, b = sides

def runs(rec, q):
    if q not in rec["queries"]:
        return []
    return [t for t in rec.get("raw", {}).get(q, [rec["queries"][q]]) if t >= 0]

def spread(xs):
    if not xs:
        return f"{'failed':>9}{'':>17}"
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return f"{statistics.median(xs):>9.3f}{f'[{q1:.3f}, {q3:.3f}]':>17}"

for cell in sorted({r["cell"] for r in rows}):
    rs = [r for r in rows if r["cell"] == cell and r["record"]]
    code = {s: next((r["code"] for r in rs if r["side"] == s), "?") for s in sides}
    pairs = sorted({r["pair"] for r in rs})
    print(f"cell {cell}, {len(pairs)} pairs: A = {code[a]}; B = {code[b]}")
    print(f"{'query':<40}{'A median':>9}{'A q1-q3':>17}{'B median':>9}"
          f"{'B q1-q3':>17}{'B/A':>7}  B won")
    for q in sorted({q for r in rs for q in r["record"]["queries"]}):
        pooled = {s: [t for r in rs if r["side"] == s for t in runs(r["record"], q)]
                  for s in sides}
        boot = {(r["pair"], r["side"]): r["record"]["queries"].get(q, -1) for r in rs}
        both = [p for p in pairs
                if min(boot.get((p, a), -1), boot.get((p, b), -1)) >= 0]
        won = sum(boot[(p, b)] < boot[(p, a)] for p in both)
        ratio = (f"{statistics.median(pooled[b]) / statistics.median(pooled[a]):>7.3f}"
                 if pooled[a] and pooled[b] else f"{'-':>7}")
        print(f"{q:<40}{spread(pooled[a])}{spread(pooled[b])}{ratio}  {won}/{len(both)}")
PY
}

if [[ ${1:-} == --report && $# -eq 2 ]]; then report "$2"; exit; fi
if [[ $# -lt 3 || ${1:-} == -* ]]; then
  sed -n '4,5s/^# *//p' "$0" >&2; exit 2
fi
refA=$1 refB=$2 queries=$3 pairs=${4:-3}
repo=$(git rev-parse --show-toplevel)
out=$repo/bench/ab_${refA//[^A-Za-z0-9._-]/_}_${refB//[^A-Za-z0-9._-]/_}.jsonl
work=$(mktemp -d "${TMPDIR:-/tmp}/graft_ab.XXXXXX")
trap 'rm -rf "$work"' EXIT

for side in A B; do
  ref=refA; [[ $side == B ]] && ref=refB
  sha=$(git -C "$repo" rev-parse --short "${!ref}^{commit}")
  echo "${!ref} $sha" > "$work/$side.code"
  mkdir "$work/$side"
  git -C "$repo" archive "$sha" | tar -x -C "$work/$side"
  echo "[ab] building $side = ${!ref} ($sha)" >&2
  if ! (cd "$work/$side" && sbt --batch -Dsbt.log.noformat=true compile \
      "export Runtime/fullClasspath") > "$work/$side.build" 2>&1; then
    tail -20 "$work/$side.build" >&2; exit 1
  fi
  grep -v '^\[' "$work/$side.build" | grep . | tail -1 > "$work/$side.cp"
done

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
    sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
cell=1
[[ -s $out ]] && cell=$(python3 -c 'import json, sys
print(1 + max(json.loads(l)["cell"] for l in open(sys.argv[1]) if l.strip()))' "$out")
boot=0
for pair in $(seq 1 "$pairs"); do
  order="A B"; (( pair % 2 == 0 )) && order="B A"
  for side in $order; do
    boot=$((boot + 1))
    echo "[ab] cell $cell pair $pair boot $boot: $side" >&2
    (cd "$work/$side" && SPARK_GRAFT_ONLY=$queries java \
      "-Xmx${SPARK_DRIVER_MEM:-8g}" "${opens[@]}" -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC -cp "$(cat "$work/$side.cp")" graft.Bench) \
      > "$work/boot.out" 2> "$work/boot.err" || tail -5 "$work/boot.err" >&2
    grep -m1 '^{"metric"' "$work/boot.out" > "$work/record" || true
    python3 -c 'import json, sys
c, p, s, b, code, rec = sys.argv[1:]
rec = open(rec).read().strip()
print(json.dumps({"cell": int(c), "pair": int(p), "side": s, "boot_order": int(b),
                  "code": code, "record": json.loads(rec) if rec else None}))' \
      "$cell" "$pair" "$side" "$boot" "$(cat "$work/$side.code")" "$work/record" >> "$out"
  done
done
report "$out"
