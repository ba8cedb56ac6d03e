#!/usr/bin/env bash
# Fork-per-suite sf1.0 sweep driver (round 15): run every PairSweep /
# GeneralSweep suite in its OWN fresh JVM and merge the per-suite JSON
# fragments into the usual artifact.
#
# Why: min-of-N sampling (r14) removed page-cache debris between
# samples, but NOT same-JVM heap/GC debris from a predecessor suite's
# multi-hundred-million-row materialization — q285 read 58.7 s inside
# the shared-JVM sweep vs 25.7 s as a Bench single even at min-of-2.
# A fresh heap per suite makes the sweep walls comparable to singles.
#
# Suites run via plain `java` against the sbt-compiled classes (the
# same classpath trick tools/plan_audit.scala uses), NOT via sbt — no
# sbt launcher tax per suite and no target-lock serialization. Run
# `sbt -batch compile` first (the script checks).
#
# Usage: tools/sweep_isolated.sh pairs|general [OUT.json]
# Env:   SPARK_DRIVER_MEM (default 16g), SPARK_GRAFT_CPUS (default nproc),
#        SPARK_GRAFT_SWEEP_SAMPLES, SPARK_GRAFT_PAIR_FILTER /
#        SPARK_GRAFT_GEN_FILTER (narrow the suite list as usual).
set -euo pipefail
cd "$(dirname "$0")/.."

# r16: stale-scratch cleanup + free-disk floor (the r15 sf3 hazards).
# Floor override: SPARK_GRAFT_DISK_FLOOR_GB (default 40).
bash tools/disk_preflight.sh "${SPARK_GRAFT_DISK_FLOOR_GB:-40}"

kind=${1:?usage: sweep_isolated.sh pairs|general [OUT.json]}
case "$kind" in
  pairs)   main=graft.PairSweep;    fenv=SPARK_GRAFT_PAIR_FILTER
           out=${2:-SWEEP_SF1_PAIRS.json} ;;
  general) main=graft.GeneralSweep; fenv=SPARK_GRAFT_GEN_FILTER
           out=${2:-SWEEP_SF1_GENERAL.json} ;;
  *) echo "unknown kind '$kind' (pairs|general)"; exit 2 ;;
esac

if [ ! -f target/sf1.0/lineitem.parquet ]; then
  python3 tools/make_sf1.py /root/testdata/sf0.1 target/sf1.0 10
fi
if [ ! -d target/scala-2.13/classes/graft ]; then
  echo "compiled classes missing - run: sbt -batch compile"; exit 2
fi

CP="target/scala-2.13/classes:/opt/spark/jars/*"
MEM=${SPARK_DRIVER_MEM:-16g}
# Spark 4.x on JDK 17 outside spark-submit (same list as build.sbt)
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
JAVA="java $OPENS -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -cp $CP"

names=$(SPARK_GRAFT_SWEEP_LIST=1 $JAVA -Xmx2g "$main" \
          target/sf1.0 /root/testdata/sf0.1 /dev/null 2>/dev/null \
        | grep '^q' || true)
if [ -z "$names" ]; then echo "no suites selected"; exit 2; fi

mkdir -p target/sweep_parts
parts=()
fail=0
for n in $names; do
  part="target/sweep_parts/${kind}.${n}.json"
  echo "== $n (fresh JVM, $MEM)"
  if ! env "$fenv=$n" $JAVA -Xmx"$MEM" "$main" \
       target/sf1.0 /root/testdata/sf0.1 "$part"; then
    fail=1
  fi
  parts+=("$part")
done

python3 - "$out" "${parts[@]}" <<'EOF'
import json, sys
out, parts = sys.argv[1], sys.argv[2:]
rows = []
for p in parts:
    try:
        rows.extend(json.load(open(p)))
    except Exception as e:
        rows.append({"query": p, "pass": False,
                     "error": f"fragment unreadable: {e}"})
with open(out, "w") as f:
    json.dump(rows, f, indent=1)
    f.write("\n")
ok = sum(1 for r in rows if r.get("pass"))
print(f"\n{ok} of {len(rows)} queries green -> {out}")
EOF
exit $fail
