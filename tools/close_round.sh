#!/usr/bin/env bash
# One-command round-close certification gate (VERDICT r11 item 6).
#
# Runs the certification recipe BASELINE.md previously described in
# prose, leaving a committed-quality transcript per step under
# tmp/close_<tag>/. Every step's artifact is the evidence: the
# summary printed at the end is assembled only from those files.
#
# Usage: tools/close_round.sh <tag> [steps]
#   tag    e.g. r12 — names the transcript dir tmp/close_<tag>/
#   steps  comma list, default "test,oracle001,shuffle,jitter,bench"
#          test      sbt -batch test    (suite green, PLANS.md rows too)
#          oracle001 Verify + check_oracles at sf0.01      (PASS N/0)
#          shuffle   row-shuffled sf0.01 copy sweep        (PASS N/0)
#          jitter    boundary-jittered copies, seeds 42+7  (PASS N/0 ×2)
#          sf1       Verify + check_oracles at tmp/sf1     (SLOW: ~80 min)
#          sf10     wave-partitioned oracle sweep at tmp/sf10 against
#                    tmp/v_sf10 engine outputs (SLOW: hours; see below)
#          bench     graft.Bench ×2 at sf0.1               (2 JSON lines)
#
# sf1/sf10 are NOT in the default list (they dominate wall time); the
# full close is:
#   tools/close_round.sh r13 test,oracle001,shuffle,jitter,sf1,bench
# and the decade certification (separately, engine outputs first):
#   SPARK_GRAFT_SCRATCH_DIR=tmp/scratch SPARK_GRAFT_GC_EACH=1 \
#     tools/run_main.sh graft.Verify tmp/sf10 tmp/v_sf10   # hours
#   tools/close_round.sh r13 sf10
#
# sf10 memory governance (learned the hard way, rounds 12–13): DuckDB
# defaults to 80% of RAM PER PROCESS and several closure truth sides
# peak >40 GiB — ungoverned parallel shards invite the kernel
# OOM-killer (it silently ate two sweeps). The sf10 step therefore
# runs the LIGHT queries in 3 parallel 20 GiB shards and the 5 heavy
# closure/graph truth sides SEQUENTIALLY at one big budget, with
# per-shard spill dirs, then substitutes the sampled exact audit for
# q44 (whose full truth side is >1.5 h quadratic by design).
#
# Exit code: 0 only if every selected step passed.
set -uo pipefail
cd "$(dirname "$0")/.."

TAG="${1:?usage: tools/close_round.sh <tag> [steps]}"
STEPS="${2:-test,oracle001,shuffle,jitter,bench}"
OUT="tmp/close_${TAG}"
mkdir -p "$OUT"
FAIL=0
SUMMARY=()

has_step() { [[ ",$STEPS," == *",$1,"* ]]; }

note() { echo "[close_round] $*"; }

check_oracle_log() { # <log> <label>  — expects a "PASS n / FAIL 0" tail
  local log="$1" label="$2"
  local line
  line=$(grep -E "^PASS [0-9]+ / FAIL [0-9]+" "$log" | tail -1)
  if [[ "$line" =~ FAIL\ 0 ]] && [[ -n "$line" ]]; then
    SUMMARY+=("$label: $line")
  else
    SUMMARY+=("$label: FAILED (${line:-no PASS line}) — see $log")
    FAIL=1
  fi
}

if has_step test; then
  note "sbt test…"
  sbt -batch test >"$OUT/test.log" 2>&1
  line=$(grep -E "^\[info\] Tests: " "$OUT/test.log" | tail -1)
  if grep -q "All tests passed." "$OUT/test.log"; then
    SUMMARY+=("test: ${line#\[info\] }")
  else
    SUMMARY+=("test: FAILED — see $OUT/test.log"); FAIL=1
  fi
fi

if has_step oracle001; then
  note "Verify + oracles at sf0.01…"
  tools/run_main.sh graft.Verify /root/testdata/sf0.01 "$OUT/v001" \
    >"$OUT/verify001.log" 2>&1
  python3 tools/check_oracles.py "$OUT/v001" /root/testdata/sf0.01 \
    >"$OUT/oracle001.log" 2>&1
  check_oracle_log "$OUT/oracle001.log" "oracle sf0.01"
fi

if has_step shuffle; then
  note "shuffle sweep…"
  rm -rf /dev/shm/close_shuf
  python3 tools/perturb_testdata.py /root/testdata/sf0.01 \
    /dev/shm/close_shuf shuffle 42 >"$OUT/perturb_shuf.log" 2>&1
  tools/run_main.sh graft.Verify /dev/shm/close_shuf "$OUT/vshuf" \
    >"$OUT/verify_shuf.log" 2>&1
  python3 tools/check_oracles.py "$OUT/vshuf" /dev/shm/close_shuf \
    >"$OUT/oracle_shuf.log" 2>&1
  check_oracle_log "$OUT/oracle_shuf.log" "shuffle sweep"
fi

if has_step jitter; then
  for seed in 42 7; do
    note "jitter sweep (seed $seed)…"
    rm -rf "/dev/shm/close_jit$seed"
    python3 tools/perturb_testdata.py /root/testdata/sf0.01 \
      "/dev/shm/close_jit$seed" jitter "$seed" \
      >"$OUT/perturb_jit$seed.log" 2>&1
    tools/run_main.sh graft.Verify "/dev/shm/close_jit$seed" \
      "$OUT/vjit$seed" >"$OUT/verify_jit$seed.log" 2>&1
    python3 tools/check_oracles.py "$OUT/vjit$seed" \
      "/dev/shm/close_jit$seed" >"$OUT/oracle_jit$seed.log" 2>&1
    check_oracle_log "$OUT/oracle_jit$seed.log" "jitter seed $seed"
  done
fi

if has_step sf1; then
  note "Verify + oracles at sf1 (slow)…"
  if [[ -d tmp/sf1 ]]; then
    tools/run_main.sh graft.Verify tmp/sf1 "$OUT/vsf1" \
      >"$OUT/verify_sf1.log" 2>&1
    python3 tools/check_oracles.py "$OUT/vsf1" tmp/sf1 \
      >"$OUT/oracle_sf1.log" 2>&1
    check_oracle_log "$OUT/oracle_sf1.log" "oracle sf1"
  else
    SUMMARY+=("oracle sf1: SKIPPED — tmp/sf1 missing (run graft.Datagen)")
    FAIL=1
  fi
fi

if has_step sf10; then
  note "sf10 oracle sweep (waves)…"
  VDIR="tmp/v_sf10"; SF10="tmp/sf10"
  if [[ -d "$VDIR" && -d "$SF10" ]]; then
    HEAVY="q74_dedup_clusters qA1_canonical_docs qA3_pagerank qC1_curation_pipeline qF3_split_leakage"
    AUDITED="q44_jaccard_pairs qB4_sparse_cosine"
    # light shards: every dumped query minus heavy minus audited,
    # round-robin into 3 shards
    mapfile -t ALLQ < <(cd "$VDIR" && ls -d q* 2>/dev/null)
    declare -a S0=() S1=() S2=()
    i=0
    for q in "${ALLQ[@]}"; do
      [[ " $HEAVY $AUDITED " == *" $q "* ]] && continue
      case $((i % 3)) in
        0) S0+=("$q");; 1) S1+=("$q");; 2) S2+=("$q");;
      esac
      i=$((i + 1))
    done
    # Empty shards are SKIPPED (ADVICE r13): a partial/aborted Verify
    # dump — exactly when a re-sweep is likely — would otherwise pass
    # zero query args to check_oracles.py, whose empty `only` set runs
    # the FULL sweep including the heavy closure truth sides, 3× in
    # parallel at 20 GiB each: the parallel-heavy OOM this step was
    # built to avoid. PIDs go in an array, not eval'd P$s vars (an
    # unset P$s would trip `set -u` at the wait).
    SHARD_PIDS=()
    SHARD_RAN=()
    for s in 0 1 2; do
      declare -n SH="S$s"
      [[ ${#SH[@]} -eq 0 ]] && continue
      GRAFT_DUCKDB_MEMLIMIT=20GB GRAFT_DUCKDB_THREADS=10 \
      GRAFT_DUCKDB_TMPDIR="tmp/ducktmp_sf10_$s" \
        python3 tools/check_oracles.py "$VDIR" "$SF10" "${SH[@]}" \
        >"$OUT/oracle_sf10_shard$s.log" 2>&1 &
      SHARD_PIDS+=("$!")
      SHARD_RAN+=("$s")
    done
    [[ ${#SHARD_PIDS[@]} -gt 0 ]] && wait "${SHARD_PIDS[@]}" 2>/dev/null
    # Disk-retry lane (round 14): the shards govern MEMORY per process
    # but share ONE disk — simultaneous spill peaks can exhaust it and
    # fail queries that pass in isolation (r14: q98 + qC2, both with
    # >7M-row truth sides, failed "No space left on device" while
    # three shards spilled concurrently; both passed solo). Queries
    # that failed on temp-disk exhaustion are re-run SEQUENTIALLY at a
    # bigger budget; a shard is then judged green iff its only FAILs
    # were disk-class and the retry lane passed.
    DISKQ=()
    for s in "${SHARD_RAN[@]}"; do
      while read -r q; do [[ -n "$q" ]] && DISKQ+=("$q"); done < <(
        sed -n 's/^  FAIL \([^:]*\):.*No space left on device.*/\1/p' \
          "$OUT/oracle_sf10_shard$s.log")
    done
    RETRY_OK=0
    if [[ ${#DISKQ[@]} -gt 0 ]]; then
      note "sf10 disk-retry lane: ${DISKQ[*]}…"
      GRAFT_DUCKDB_MEMLIMIT=60GB GRAFT_DUCKDB_THREADS=16 \
      GRAFT_DUCKDB_TMPDIR="tmp/ducktmp_sf10_dr" GRAFT_ORACLE_TIMES=1 \
        python3 tools/check_oracles.py "$VDIR" "$SF10" "${DISKQ[@]}" \
        >"$OUT/oracle_sf10_disk_retry.log" 2>&1
      rm -rf tmp/ducktmp_sf10_dr
      # Green requires PASS count == the number of queries handed to the
      # lane (ADVICE r14): check_oracles.py silently ignores `only`
      # names matching no dump dir, so a garbled name would otherwise
      # yield "PASS 0 / FAIL 0" and a green lane that re-ran nothing.
      if grep -qE "^PASS ${#DISKQ[@]} / FAIL 0" "$OUT/oracle_sf10_disk_retry.log"; then
        RETRY_OK=1
        SUMMARY+=("sf10 disk-retry (${#DISKQ[@]}q): $(grep -E '^PASS' "$OUT/oracle_sf10_disk_retry.log" | tail -1)")
      else
        SUMMARY+=("sf10 disk-retry (${#DISKQ[@]}q): FAILED — see $OUT/oracle_sf10_disk_retry.log")
        FAIL=1
      fi
    fi
    for s in "${SHARD_RAN[@]}"; do
      log="$OUT/oracle_sf10_shard$s.log"
      nfail=$(grep -c '^  FAIL' "$log")
      ndisk=$(grep -c '^  FAIL .*No space left on device' "$log")
      line=$(grep -E "^PASS [0-9]+ / FAIL [0-9]+" "$log" | tail -1)
      # The FAIL tally parsed from the final summary line must exist
      # AND equal the disk-class count (ADVICE r14): a shard killed
      # mid-sweep (OOM-killer — an observed mode) after printing one
      # disk FAIL would leave nfail==ndisk with no/stale summary line,
      # certifying coverage that never ran.
      lfail=$(sed -n 's|^PASS [0-9]* / FAIL \([0-9]*\).*|\1|p' <<<"$line")
      if [[ "$nfail" -eq 0 && -n "$line" && "$lfail" == "0" ]]; then
        SUMMARY+=("sf10 shard $s: $line")
      elif [[ "$nfail" -gt 0 && "$nfail" -eq "$ndisk" && "$RETRY_OK" -eq 1 \
              && -n "$line" && "$lfail" == "$ndisk" ]]; then
        SUMMARY+=("sf10 shard $s: $line — $ndisk disk-exhaustion FAIL(s) re-run green sequentially")
      else
        SUMMARY+=("sf10 shard $s: FAILED (${line:-no PASS line}) — see $log")
        FAIL=1
      fi
    done
    # A partial Verify dump (fewer than 3 non-empty shards) means an
    # unknown set of queries was never swept — that is a gate FAILURE
    # (ADVICE r14), not a footnote, unless explicitly overridden for a
    # deliberately-partial dump.
    if [[ ${#SHARD_RAN[@]} -lt 3 ]]; then
      if [[ "${GRAFT_CLOSE_ALLOW_PARTIAL_SF10:-0}" == "1" ]]; then
        SUMMARY+=("sf10 shards: only ${#SHARD_RAN[@]}/3 non-empty — partial dump ALLOWED by GRAFT_CLOSE_ALLOW_PARTIAL_SF10=1")
      else
        SUMMARY+=("sf10 shards: FAILED — only ${#SHARD_RAN[@]}/3 non-empty, Verify dump looks partial (set GRAFT_CLOSE_ALLOW_PARTIAL_SF10=1 to override)")
        FAIL=1
      fi
    fi
    # heavy truth sides one at a time at a big budget
    for q in $HEAVY; do
      note "sf10 heavy: $q…"
      GRAFT_DUCKDB_MEMLIMIT=80GB GRAFT_DUCKDB_THREADS=16 \
      GRAFT_DUCKDB_TMPDIR="tmp/ducktmp_sf10_h" GRAFT_ORACLE_TIMES=1 \
        python3 tools/check_oracles.py "$VDIR" "$SF10" "$q" \
        >"$OUT/oracle_sf10_$q.log" 2>&1
      check_oracle_log "$OUT/oracle_sf10_$q.log" "sf10 $q"
      rm -rf tmp/ducktmp_sf10_h
    done
    # q44: sampled exact audit (full truth side infeasible by design)
    note "sf10 q44 sampled audit…"
    if GRAFT_DUCKDB_MEMLIMIT=60GB GRAFT_DUCKDB_THREADS=16 \
       GRAFT_DUCKDB_TMPDIR="tmp/ducktmp_sf10_q44" \
       python3 tools/audit_q44_sf10.py "$VDIR" "$SF10" \
       >"$OUT/oracle_sf10_q44_audit.json" 2>"$OUT/oracle_sf10_q44_audit.err"; then
      SUMMARY+=("sf10 q44 audit: $(tail -1 "$OUT/oracle_sf10_q44_audit.json")")
    else
      SUMMARY+=("sf10 q44 audit: FAILED — see $OUT/oracle_sf10_q44_audit.*")
      FAIL=1
    fi
    # qB4: sampled exact audit (full truth side out-spills this host's
    # disk — >70 GB of dots GROUP BY state at sf10; the audit computes
    # the same capped semantics bounded to sampled LOWER endpoints)
    note "sf10 qB4 sampled audit…"
    if GRAFT_DUCKDB_MEMLIMIT=60GB GRAFT_DUCKDB_THREADS=16 \
       GRAFT_DUCKDB_TMPDIR="tmp/ducktmp_sf10_qb4" \
       python3 tools/audit_qb4_sf10.py "$VDIR" "$SF10" \
       >"$OUT/oracle_sf10_qb4_audit.json" 2>"$OUT/oracle_sf10_qb4_audit.err"; then
      SUMMARY+=("sf10 qB4 audit: $(tail -1 "$OUT/oracle_sf10_qb4_audit.json")")
    else
      SUMMARY+=("sf10 qB4 audit: FAILED — see $OUT/oracle_sf10_qb4_audit.*")
      FAIL=1
    fi
    rm -rf tmp/ducktmp_sf10_q44 tmp/ducktmp_sf10_qb4 \
      tmp/ducktmp_sf10_0 tmp/ducktmp_sf10_1 tmp/ducktmp_sf10_2
  else
    SUMMARY+=("sf10: SKIPPED — $VDIR or $SF10 missing (run graft.Datagen + graft.Verify at sf10)")
    FAIL=1
  fi
fi

if has_step bench; then
  # The close gate's per-query record gets its OWN filename
  # (BENCH_CLOSE_<tag>.json) so it never shares a path with the
  # driver's BENCH_FULL.json (VERDICT r14 item 1: two writers on one
  # path left a permanently dirty tree and a stale committed copy
  # every round). BENCH_FULL.json now belongs to the driver alone.
  for i in 1 2; do
    note "bench run $i at sf0.1…"
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_OUT="$OUT/bench$i.full.json" \
      tools/run_main.sh graft.Bench >"$OUT/bench$i.log" 2>&1
    line=$(grep -F '"metric":"total"' "$OUT/bench$i.log" | tail -1)
    if [[ -n "$line" ]] && [[ "$line" == *'"failed":[]'* ]]; then
      total=$(python3 -c "import json,sys;d=json.loads(sys.argv[1]);print(f'{d[\"value\"]:.1f} s / {len(d[\"queries\"])}q / 0 failed')" "$line")
      SUMMARY+=("bench run $i: $total")
      cp "$OUT/bench$i.log" "$OUT/bench$i.raw.log"
      echo "$line" >"$OUT/bench$i.json"
    else
      SUMMARY+=("bench run $i: FAILED — see $OUT/bench$i.log"); FAIL=1
    fi
  done
  # commit-ready close record = the warm (second) run's full line
  if [[ -s "$OUT/bench2.full.json" ]]; then
    cp "$OUT/bench2.full.json" "BENCH_CLOSE_${TAG}.json"
    SUMMARY+=("bench close record: BENCH_CLOSE_${TAG}.json (warm run)")
  fi
fi

echo
echo "=== close_round $TAG summary ==="
for s in "${SUMMARY[@]}"; do echo "  $s"; done
echo "transcripts: $OUT/"
exit $FAIL
