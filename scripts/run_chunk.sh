#!/bin/bash
# One gate-clean Bench chunk at an arbitrary leg: fresh JVM, sized
# shuffle partitions (graft.util.Tuning reads the leg), exact-name row
# list from a file.
# Usage: run_chunk.sh <sf-dir> <list-file> <out-json> [skip-names]
set -u
SFDIR="$1"
LIST=$(cat "$2")
OUT="$3"
SKIP="${4:-}"
cd /root/repo
rm -f bench_out.json bench_out.rejected.json
env SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_ONLY="$LIST" ${SKIP:+SPARK_GRAFT_SKIP="$SKIP"} \
  java -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  -Xmx100g -XX:+UseG1GC graft.Bench 2>"${OUT%.json}.err"
rc=$?
if [ $rc -eq 0 ] && [ -f bench_out.json ]; then mv bench_out.json "$OUT"; fi
if [ -f bench_out.rejected.json ]; then mv bench_out.rejected.json "${OUT%.json}.rejected.json"; fi
echo "CHUNK_EXIT=$rc -> $OUT"
exit $rc
