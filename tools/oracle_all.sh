#!/usr/bin/env bash
# Correctness at every scale factor: runs graft.Verify and tools/oracle_check.py
# at sf0.001, sf0.01 and sf0.1 and prints one PASS count per scale.
#
# Usage: tools/oracle_all.sh <testdata_dir> [out_dir]
#   testdata_dir  holds sf0.001/, sf0.01/ and sf0.1/
#   out_dir       Verify dumps and logs, one directory per scale
#                 (default /tmp/graft_oracle_all)
#
# Runs sbt in the repository that holds this script. Verify builds its
# session through graft.util.GraftSession, so the checked plans are the ones
# Bench times.
# A known non-defect is listed in KNOWN below and printed as a named exception
# on every run, never dropped. The exit status is non-zero when a query fails
# in Verify or diverges from DuckDB without a KNOWN entry, and the script
# refuses to start (status 2) while a perfbench/run.py process is alive.
set -u -o pipefail

[ $# -ge 1 ] || { echo "usage: $0 <testdata_dir> [out_dir]" >&2; exit 2; }
# perfbench/run.py's cleanup removes every /dev/shm/graft_ck_* directory made
# while it runs, so a streaming query's checkpoint in this run would vanish
if pids=$(pgrep -f "python[0-9.]* [^ ]*perfbench/run\.py"); then
  echo "$0: perfbench/run.py is running (pid $(echo $pids)); its checkpoint" \
    "cleanup would delete this run's /dev/shm/graft_ck_* state — run after it ends" >&2
  exit 2
fi
data=$(realpath -m -- "$1")
out=$(realpath -m -- "${2:-/tmp/graft_oracle_all}")
scales=(sf0.001 sf0.01 sf0.1)

# "<scale>:<query>" -> why the divergence is not a defect of the engine
tie="ROUND(x, 6) of a double whose shortest decimal form ends in 5 at the 7th decimal: Spark rounds that decimal form half-up, DuckDB the binary value just below it"
declare -A KNOWN=(
  # user 6 at 2024-01-21 17:00 interpolates to 65.4046875 (binary 65.4046874999...)
  ["sf0.001:ts_interpolate"]="$tie"
  # user 2 at 2024-01-19 12:00 interpolates to 133.9446875 (binary 133.9446874999...)
  ["sf0.1:ts_interpolate"]="$tie"
  # Both sides compute cov(price, price) with the same double formula. DuckDB 1.0
  # casts the DECIMAL(38,4) sum of squares 2224071148386123.1690 to the double
  # 2224071148386123.0, not the nearest one (…123.25) that Spark uses, and the
  # formula's cancellation turns that into 902872073.2674242 against …246.
  ["sf0.1:stats_cov_matrix"]="DuckDB's DECIMAL(38,4) to DOUBLE cast is not correctly rounded; the cancellation in the one-pass covariance moves the 6th decimal"
)

cd "$(dirname "$0")/.." || exit 2
mkdir -p "$out"
status=0
for sf in "${scales[@]}"; do
  rm -rf "${out:?}/$sf"
  log="$out/$sf.verify.log"
  if ! sbt -batch "runMain graft.Verify $data/$sf $out/$sf" >"$log" 2>&1; then
    echo "$sf: Verify did not finish, see $log"
    status=1
    continue
  fi
  report=$(python3 tools/oracle_check.py "$data/$sf" "$out/$sf")
  failed=$(grep "\[verify\] .* failed:" "$log")
  echo "$sf: $(head -n 1 <<<"$report"), $(grep -c . <<<"$failed") [verify] failures"
  [ -z "$failed" ] || { sed 's/^/  /' <<<"$failed"; status=1; }
  while read -r tag name msg; do
    [ "$tag" = FAIL ] || continue
    if [ -n "${KNOWN[$sf:$name]+x}" ]; then
      echo "  KNOWN $name: ${KNOWN[$sf:$name]} ($msg)"
    else
      echo "  FAIL $name: $msg"
      status=1
    fi
  done < <(tail -n +2 <<<"$report")
done
exit $status
