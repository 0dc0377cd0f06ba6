#!/bin/bash
# Freeze ladder: every gate on the FINAL committed code, run
# sequentially from one class state (no sbt invocations after the test
# step — the classpath the spawned executors read must not change
# mid-ladder). Logs land in /tmp/graft_ladder/; artifacts are written
# into the repo root. Added in r15 (VERDICT r14 tasks): the scale-law gate
# (SCALELAW_r15.json, exit-coded growth exponents for the wall-time
# family), the corpus-compaction soak legs (inside soak.sh), the
# LOW-MEMORY sf0.1 gates (GRAFT_XMX=3g — spill-safety, both profiles),
# the COVERAGE.md citation cross-check, and the xversion window rolled
# forward to the r12+r13 freezes.
# GRAFT_LADDER_SMOKE=fail: selftest hook — replaces the sbt test step
# with `false` to prove the abort rail fires before any artifact stamp.
set -uo pipefail
cd "$(dirname "$0")/.."
mkdir -p /tmp/graft_ladder
FAIL=0
step() {
  local name="$1"; shift
  echo "=== $name: $* ($(date +%H:%M:%S)) ==="
  if "$@" > "/tmp/graft_ladder/$name.log" 2>&1; then
    echo "=== $name OK ($(date +%H:%M:%S)) ==="
  else
    echo "=== $name FAILED rc=$? — tail: ==="; tail -5 "/tmp/graft_ladder/$name.log"
    FAIL=1
  fi
}

# rail self-test before anything is stamped (skipped in smoke mode —
# the smoke run IS the selftest's ladder probe; recursing would loop)
if [ "${GRAFT_LADDER_SMOKE:-}" != "fail" ]; then
  step selftest      scripts/selftest.sh
  [ "$FAIL" -eq 0 ] || { echo "=== ABORT: harness rails failed selftest ==="; exit 1; }
  step test          sbt -batch test
else
  step test          false
fi
[ "$FAIL" -eq 0 ] || { echo "=== ABORT: test step failed ==="; exit 1; }
step fuzz_deep       env GRAFT_FUZZ_N=50 sbt -batch "testOnly graft.streaming.StatefulReplayProperties"
[ "$FAIL" -eq 0 ] || { echo "=== ABORT: deep fuzz failed ==="; exit 1; }
scripts/testcount.sh /tmp/graft_ladder/test.log | tee /tmp/graft_ladder/testcount.txt \
  || { echo "=== testcount FAILED ==="; FAIL=1; }
# class snapshots AFTER the sbt run, BEFORE everything else (main AND
# test scope — the scale-law main lives in test classes)
rm -rf /tmp/graft_r15_final /tmp/graft_r15_final_test
cp -r target/scala-2.13/classes /tmp/graft_r15_final
cp -r target/scala-2.13/test-classes /tmp/graft_r15_final_test

# preserve the committed artifacts for the round-over-round compares
# BEFORE any step overwrites them in the repo root
for a in CLUSTERGATE.json CLUSTERGATE_production.json; do
  git show "HEAD:$a" > "/tmp/graft_ladder/prev_$a" || FAIL=1
done

step gate001         env GRAFT_CLASSES=/tmp/graft_r15_final scripts/gate.sh /root/testdata/sf0.01
step gate001_prod    env GRAFT_CLASSES=/tmp/graft_r15_final SPARK_GRAFT_PROFILE=production scripts/gate.sh /root/testdata/sf0.01
step gate01          env GRAFT_CLASSES=/tmp/graft_r15_final GRAFT_XMX=24g SPARK_GRAFT_CPUS=16 GATE_JSON=CORRECTNESS_sf01_r15.json scripts/gate.sh /root/testdata/sf0.1
step gate01_prod     env GRAFT_CLASSES=/tmp/graft_r15_final GRAFT_XMX=24g SPARK_GRAFT_CPUS=16 SPARK_GRAFT_PROFILE=production GATE_JSON=CORRECTNESS_sf01_r15_production.json scripts/gate.sh /root/testdata/sf0.1

# LOW-MEMORY sf0.1 gates (VERDICT r14 task 3): the full 363 at a
# deliberately small heap — at 100 TB per-executor memory is the scarce
# resource, and the 24g runs are structurally blind to spill bugs. Any
# OOM here is a real finding.
step gate01_lowmem      env GRAFT_CLASSES=/tmp/graft_r15_final GRAFT_XMX=3g GATE_JSON=CORRECTNESS_sf01_lowmem_r15.json scripts/gate.sh /root/testdata/sf0.1
step gate01_lowmem_prod env GRAFT_CLASSES=/tmp/graft_r15_final GRAFT_XMX=3g SPARK_GRAFT_PROFILE=production GATE_JSON=CORRECTNESS_sf01_lowmem_r15_production.json scripts/gate.sh /root/testdata/sf0.1

# mechanical green->red diff vs the r14 committed artifacts (exit-coded)
step corr_diff       python3 scripts/correctness_compare.py CORRECTNESS_sf01_r14.json CORRECTNESS_sf01_r15.json
step corr_diff_prod  python3 scripts/correctness_compare.py CORRECTNESS_sf01_r14_production.json CORRECTNESS_sf01_r15_production.json
cat /tmp/graft_ladder/corr_diff.log /tmp/graft_ladder/corr_diff_prod.log > CORRECTNESS_COMPARE_r15.txt

# COVERAGE.md citations must resolve against the FRESH sf0.1 artifact
step coverage        python3 scripts/coverage_check.py COVERAGE.md CORRECTNESS_sf01_r15.json

# the scale-law gate (VERDICT r14 task 1): growth exponents of the
# wall-time family re-measured at x1/x4/x16, exit 1 past budget
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         jdk.internal.ref sun.nio.ch sun.nio.cs sun.security.action \
         sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
step scalelaw        env GRAFT_SCALELAW_OUT=SCALELAW_r15.json \
  java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
  -cp "/tmp/graft_r15_final_test:/tmp/graft_r15_final:${SPARK_HOME:-/opt/spark}/jars/*" \
  graft.ScaleLaw all

step soak            scripts/soak.sh
# xversion window rolled forward (VERDICT r14 task 6): current code
# must recover the r12 AND r13 freeze checkpoints
step xversion_r13    scripts/xversion.sh 9e165e4
step xversion_r12    scripts/xversion.sh 101f559

step cg_all          scripts/clustergate.sh all
step cg_all_prod     env SPARK_GRAFT_PROFILE=production SPARK_GRAFT_CLUSTERGATE_OUT=CLUSTERGATE_production.json scripts/clustergate.sh all
step cg_chaos        scripts/clustergate.sh chaos
step cg_chaos_prod   env SPARK_GRAFT_PROFILE=production SPARK_GRAFT_CLUSTERGATE_OUT=CHAOS_production.json scripts/clustergate.sh chaos
step cg_wide         scripts/clustergate.sh wide
step cg_wide_prod    env SPARK_GRAFT_PROFILE=production SPARK_GRAFT_CLUSTERGATE_OUT=CLUSTERGATE_wide_production.json scripts/clustergate.sh wide

step soak_cmp        python3 scripts/bench_compare.py --soak /tmp/graft_ladder/prev_CLUSTERGATE.json CLUSTERGATE.json 50
step soak_cmp_prod   python3 scripts/bench_compare.py --soak /tmp/graft_ladder/prev_CLUSTERGATE_production.json CLUSTERGATE_production.json 50
cat /tmp/graft_ladder/soak_cmp.log /tmp/graft_ladder/soak_cmp_prod.log > SOAK_COMPARE_r15.txt

step bench_def       scripts/bench3.sh /root/testdata/sf0.1 /tmp/graft_r15_final
step bench_prod      env SPARK_GRAFT_PROFILE=production scripts/bench3.sh /root/testdata/sf0.1 /tmp/graft_r15_final
step bench_def2      scripts/bench3.sh /root/testdata/sf0.1 /tmp/graft_r15_final
step bench_prod2     env SPARK_GRAFT_PROFILE=production scripts/bench3.sh /root/testdata/sf0.1 /tmp/graft_r15_final

step bench_gate      python3 scripts/bench_compare.py --gate BENCH_local_r14.json,BENCH_local_r14_series2.json /tmp/graft_ladder/bench_def.log,/tmp/graft_ladder/bench_def2.log
step bench_gate_prod python3 scripts/bench_compare.py --gate BENCH_local_r14_production.json,BENCH_local_r14_production_series2.json /tmp/graft_ladder/bench_prod.log,/tmp/graft_ladder/bench_prod2.log
cat /tmp/graft_ladder/bench_gate.log /tmp/graft_ladder/bench_gate_prod.log > BENCH_COMPARE_r15.txt

echo "=== LADDER DONE fail=$FAIL ($(date +%H:%M:%S)) ==="
exit $FAIL
