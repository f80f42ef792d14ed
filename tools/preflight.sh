#!/usr/bin/env bash
# Pre-snapshot gate — the FULL local run of everything the driver gates on.
# Rounds 7 and 8 both shipped a snapshot that one local run of this script
# would have caught (r7: compile break; r8: one red test). Run it before
# EVERY end-of-round commit; a red line here is a red driver round.
#
# Usage: tools/preflight.sh [sf-dir]    (default /root/testdata/sf0.01)
set -uo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT=$(mktemp -d /tmp/preflight.XXXXXX)
fail=0

echo "== 1/6 one session builder, one owner partitioner, one write route, one scan partition, one QC triage, one rank pass, one metadata-aggregate answer, one still-image path =="
# every engine session comes from graft.GraftSession.builder(cpus)
stray=$(grep -rl "SparkSession.builder" src | grep -vx "src/main/scala/graft/GraftSession.scala")
if [ -n "$stray" ]; then
  echo "SESSION LINT RED: SparkSession.builder outside GraftSession.scala:"; echo "$stray"
  fail=1
else
  echo "SparkSession.builder only in GraftSession.scala"
fi
# the connector's owner shuffles partition by owner id (MdioWriter's owner
# partitioner, repartitionById), never by a hash of cell columns
hashed=$(grep -rn "\.repartition(" src/main/scala/graft/sources/)
if [ -n "$hashed" ]; then
  echo "OWNER LINT RED: .repartition( in src/main/scala/graft/sources/:"; echo "$hashed"
  fail=1
else
  echo "no .repartition( in src/main/scala/graft/sources/"
fi
# every chunk write goes through MdioWriter.writeOwned: no DSv2 row-writer
# commit protocol and no sink-only settings beside it
route=$(grep -rnE "DataWriterFactory|BatchWrite|RequiresDistributionAndOrdering|spark\.graft\.sink\." src/main/)
if [ -n "$route" ]; then
  echo "WRITE ROUTE LINT RED: a second write route in src/main/:"; echo "$route"
  fail=1
else
  echo "one write route (no DataWriterFactory, BatchWrite, RequiresDistributionAndOrdering, spark.graft.sink.)"
fi
# every chunk scan plans MdioChunkRuns: no second chunk-reading partition
# class beside the run and the one metadata-answer partition, and coalesced
# ranges size by Spark's spark.sql.files.maxPartitionBytes, not a private knob
parts=$(perl -0777 -ne 'while (/\b(?:class|object)\s+(\w+)(?:(?!\b(?:class|object)\b)[^{])*?\b(?:extends|with)\s+InputPartition\b/g) {
  print "$ARGV: $1\n" unless $1 =~ /^(MdioChunkRun|MdioAggRowsPartition)$/ }' \
  $(find src/main/scala/graft/sources -name '*.scala'))
knob=$(grep -rn "spark\.graft\.scan\.targetPartitionBytes" src/main/)
if [ -n "$parts$knob" ]; then
  echo "SCAN PARTITION LINT RED: a second scan partition shape or the old range knob in src/main/:"
  [ -n "$parts" ] && echo "$parts"
  [ -n "$knob" ] && echo "$knob"
  fail=1
else
  echo "one scan partition (MdioChunkRun beside MdioAggRowsPartition; no spark.graft.scan.targetPartitionBytes)"
fi

# the direct QC operators triage one item walk: sidecar shard files open
# in walkShards and in RankItems' refinement only, and the single-rank
# selection stays folded into the one rank pass (kthSmallest is one rank)
qc=src/main/scala/graft/operators/MdioStats.scala
reads=$(grep -o "MdioChunkStats\.readShard(" "$qc" | wc -l)
single=$(grep -n "def selectByRank(" "$qc")
if [ "$reads" -gt 2 ] || [ -n "$single" ]; then
  echo "QC TRIAGE LINT RED: $reads MdioChunkStats.readShard( calls in $qc (max 2)"
  [ -n "$single" ] && echo "$single"
  fail=1
else
  echo "one QC triage ($reads MdioChunkStats.readShard( calls in MdioStats.scala, no selectByRank)"
fi

# every rank operator runs through one pass, MdioStats.rankPass (the
# ungrouped operators and the ungrouped pushed percentile are its one
# group): no second rank vector or literal-array rank request beside it,
# and the pushdown ranks through boxRanks only
twopass=$(grep -nE "def rankVector\(|RankReq" "$qc")
ds=src/main/scala/graft/sources/MdioDataSource.scala
ungrouped=$(grep -n "valuesAtRanks(" "$ds")
if [ -n "$twopass$ungrouped" ]; then
  echo "RANK PASS LINT RED: a second rank pass:"
  [ -n "$twopass" ] && echo "$twopass"
  [ -n "$ungrouped" ] && echo "$ds: $ungrouped"
  fail=1
else
  echo "one rank pass (no rankVector or RankReq in MdioStats.scala, no valuesAtRanks( in MdioDataSource.scala)"
fi

# a pushed aggregate has one metadata answer, MdioAggScan.slabRows (an
# ungrouped aggregate is its one slab): no per-op plan-time proof or
# ungrouped value path beside it
proofs=$(grep -rnE "def (stats|sum|avg|var|moments|rank)Answerable|def statValue" src/main/)
if [ -n "$proofs" ]; then
  echo "AGG ANSWER LINT RED: a second metadata-aggregate answer in src/main/:"; echo "$proofs"
  fail=1
else
  echo "one metadata-aggregate answer (no *Answerable proofs beside boxRankAnswerable, no statValue)"
fi

# every still-image decode and fixture encode goes through the JDK's
# javax.imageio behind graft.multimodal.Images: no hand-written still-image
# codec, no javax.imageio import elsewhere in src/main, no ImageIO.read(
# (its InputStream route skips the adapter's checks) and no toggling of
# the JVM-global ImageIO.setUseCache
images=src/main/scala/graft/multimodal/Images.scala
codecs=$(ls src/main/scala/graft/multimodal/{Bmp,Png,Gif,Jpeg}Codec.scala 2>/dev/null)
imports=$(grep -rlE "javax\.imageio\.[A-Za-z]" src/main | grep -vx "$images")
calls=$(grep -rnE "ImageIO\.(read\(|setUseCache)" src/main)
if [ -n "$codecs$imports$calls" ]; then
  echo "STILL-IMAGE LINT RED: a second still-image path in src/main/:"
  [ -n "$codecs" ] && echo "$codecs"
  [ -n "$imports" ] && echo "$imports"
  [ -n "$calls" ] && echo "$calls"
  fail=1
else
  echo "one still-image path (javax.imageio only in Images.scala; no Bmp/Png/Gif/JpegCodec, ImageIO.read( or ImageIO.setUseCache)"
fi

echo "== 2/6 full test suite =="
if ! sbt -batch test > "$OUT/test.log" 2>&1; then
  echo "SBT TEST RED:"; grep -E "\*\*\* FAILED|TESTS FAILED|error\]" "$OUT/test.log" | tail -20
  fail=1
else
  grep -E "Tests: succeeded" "$OUT/test.log" | tail -1
fi

echo "== 3/6 Verify (every query) at $SF =="
if ! sbt -batch "runMain graft.Verify $SF $OUT/verify" > "$OUT/verify.log" 2>&1; then
  echo "VERIFY RED:"; grep -E "\[verify\]" "$OUT/verify.log" | tail -20
  fail=1
fi

echo "== 4/6 DuckDB oracle compare =="
if ! python3 tools/check_correctness.py "$SF" "$OUT/verify" > "$OUT/oracle.log" 2>&1; then
  echo "ORACLE RED:"; grep -vE "^ok " "$OUT/oracle.log" | tail -20
  fail=1
else
  tail -1 "$OUT/oracle.log"
fi

echo "== 5/6 perfbench smoke (every workload) =="
for w in volume_rw slice_mix query_mix; do
  if ! python3 perfbench/run.py --workload "$w" --seed 1 --seconds 1 --smoke \
      > "$OUT/perfbench_$w.log" 2>&1; then
    echo "PERFBENCH $w RED:"; tail -20 "$OUT/perfbench_$w.log"
    fail=1
  else
    echo "perfbench $w ok"
  fi
done

echo "== 6/6 zarr v2 + v3 interop on MdioDemo output =="
if ! sbt -batch "runMain graft.tools.MdioDemo $OUT/mdio_demo" > "$OUT/demo.log" 2>&1; then
  echo "MDIODEMO RED:"; grep -E "error\]|Exception" "$OUT/demo.log" | tail -20
  fail=1
elif ! python3 tools/check_zarr_interop.py "$OUT/mdio_demo" > "$OUT/interop.log" 2>&1 ||
     ! python3 tools/check_zarr_v3_interop.py "$OUT/mdio_demo_v3sharded" >> "$OUT/interop.log" 2>&1; then
  echo "INTEROP RED:"; tail -20 "$OUT/interop.log"
  fail=1
else
  tail -2 "$OUT/interop.log"
fi

if [ "$fail" -eq 0 ]; then
  echo "PREFLIGHT GREEN ($OUT)"
else
  echo "PREFLIGHT RED — do not snapshot ($OUT)"
fi
# the ROADMAP asks this count to fall; every CHANGES entry quotes it from here
echo "src/main scala lines: $(git ls-files 'src/main/*.scala' | xargs cat | wc -l)"
exit $fail
