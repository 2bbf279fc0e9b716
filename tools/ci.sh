#!/usr/bin/env bash
# Full local gate: compile, unit tests, oracle verify at all three scale
# factors, bench at sf0.1. Mirrors what the round driver checks.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== one HALF_UP rounding helper =="
# every decimal rounding in src/main goes through graft.functions.HalfUp,
# the fast exact form of BigDecimal HALF_UP; a private BigDecimal copy is
# slower and must not come back
if grep -rn "RoundingMode.HALF_UP" src/main | grep -v "^src/main/scala/graft/functions/HalfUp.scala:"; then
  echo "RoundingMode.HALF_UP outside graft.functions.HalfUp: call HalfUp.round"
  exit 1
fi

echo "== no Math.fma in src/main =="
# HotSpot intrinsifies Math.fma only on CPUs with FMA; elsewhere it runs
# BigDecimal code, which would make the BMU scan about 100x slower without
# failing anything. The kernels use plain * and +.
if grep -rn "Math\.fma" src/main; then
  echo "Math.fma under src/main: use plain * and +"
  exit 1
fi

echo "== one SOM scoring path =="
# transform and computeCost are the native ArrayArgminSqDist expression;
# a UDF in the SOM package would be a second scoring path
if grep -rn "udf" src/main/scala/graft/som/; then
  echo "udf under src/main/scala/graft/som: score through ArrayArgminSqDist"
  exit 1
fi

echo "== one nearest-prototype kernel =="
# the catalog's BMU and IVF-cell assignment project ArrayArgminSqDist
# (SomQueries.nearest) and k-means assigns through SOM.cellStats; a cross
# join + min(struct(d2, ...)) or min(struct(m, cell)) argmin would be a
# second copy of BmuFold's fold, tie-break and NaN order (som_assign_sql
# keeps that form as SQL text, which this pattern does not match)
if grep -rnE 'min\(struct\(col\("(d2|m)"\)' src/main; then
  echo 'min(struct(col("d2") | col("m") ...)) under src/main: assign through SomQueries.nearest or SOM.cellStats'
  exit 1
fi

echo "== one BMU fold =="
# every SOM argmin (fit, transform, computeCost, predict and the catalog's
# prototype assignment) runs BmuFold.argmin; a second copy of its NaN-last
# comparison outside the kernel's file would be a second BMU loop
if grep -rnF 's == s && !(s >=' src/main | grep -v "^src/main/scala/graft/functions/ArrayVectorExpressions.scala:"; then
  echo 'NaN-last argmin comparison outside ArrayVectorExpressions.scala: call BmuFold.argmin'
  exit 1
fi

echo "== one features decode =="
# SOM.points / SOM.keyedPoints decode the executed plan's rows themselves
# (VectorUDT deserialize, array copy); the Scala UDF that boxes every
# element and the ML vector-sum aggregate over it must not come back
# anywhere in src/main, and neither may Dataset.rdd's Row deserializer
# under graft/som
if grep -rnE 'array_to_vector|Summarizer' src/main || grep -rnE '\)\.rdd\b' src/main/scala/graft/som/; then
  echo "array_to_vector or Summarizer under src/main, or Dataset.rdd under src/main/scala/graft/som: decode through SOM.points"
  exit 1
fi

echo "== one parquet table read =="
# every parquet read under src/main goes through graft.sources.Tables,
# which infers a file set's schema once; a plain read.parquet runs a
# schema-inference job on every call
if grep -rnF "read.parquet(" src/main | grep -v "^src/main/scala/graft/sources/Tables.scala:"; then
  echo "read.parquet( outside graft.sources.Tables: read through Tables.parquet"
  exit 1
fi

echo "== compile + test =="
sbt -batch test | grep -E "Tests:|All tests" | tail -2

echo "== perfbench selftest =="
# includes the independent RefSom vs SOM.fit bit-for-bit check of the BMU
# kernel and the batch update
python3 perfbench/run.py --selftest

for sf in sf0.001 sf0.01 sf0.1; do
  echo "== verify $sf =="
  out="/tmp/graft_ci_$sf"
  rm -rf "$out"
  # keep only the per-entry "[verify] <name> failed: <msg>" lines, so an
  # entry that throws shows why next to check.py's FAIL
  sbt -batch "runMain graft.Verify /root/testdata/$sf $out" 2>&1 \
    | { grep -F "[verify]" || true; }
  python3 tools/check.py "/root/testdata/$sf" "$out" | tail -1
done

echo "== bench sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>&1 \
  | grep '"metric"' | sed 's/^\[info\] //'
