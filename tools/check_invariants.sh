#!/bin/bash
# Single-mechanism invariants of graft's main code, checked by grep.
# Each concern below has exactly one home; a new second mechanism for it
# shows up here as a hit outside that home.
#
#   Generations.(stage|commit)(   only inside ops/Generations.scala (callers
#                                 go through swap/publish)
#   fs.open( fs.create( IOUtils   only inside ops/StateFiles.scala (the one
#                                 durable small-file protocol)
#   startsWith("__batch=")        only inside ops/Generations.scala (batchIds,
#                                 the one reader of the __batch= layout)
#   partitionBy(..."__batch"...)  only inside ops/Generations.scala (writeBatch,
#                                 the one writer of the layout), except:
#                                   - ops/Graph.scala: the append-mode
#                                     __batch=-1 pair-store fold (one line);
#                                   - contract/ and Bench.scala, which build
#                                     fixtures and bench state by hand.
#   repartition(...col("__kb"))   nowhere under streaming/, numbered or not:
#                                 the unnumbered hash exchange is coalesced
#                                 by AQE into one write task, and a numbered
#                                 one spreads buckets by Murmur3 (16 on 4
#                                 tasks as 3/3/4/6); Sinks.byBucket's
#                                 repartitionById, bucket k on task k mod n,
#                                 is the one bucket exchange of the sinks
#   newSession( GlobalTempView    nowhere: no cloned session carries a write
#   spark.sql.sources.partition-  nowhere: the clustered sink's table owns
#     OverwriteMode               its dynamic overwrite as a storage option
#                                 and other writers pass the per-write
#                                 option, so no code sets the session conf
#   localCheckpoint               nowhere in streaming/Sinks.scala: the
#                                 directory sinks write to a stage and the
#                                 clustered sink's dynamic overwrite stages
#                                 its output, so no read needs severing
#   in streaming/Sinks.scala, one bucket-table target (BucketTable):
#     pmod(hash(                  once: the __kb hash of the one merge body
#     mapPartitions(              once: that body's touched-bucket collect
#                                 (one job, no shuffle)
#     commitBuckets( finish-      only inside the directory target
#       Commit( StageDir          (DirTable): the stage-and-promote commit
#     TruncateTarget              nowhere: the truncate sinks run over
#                                 BucketTable like every other sink
#
# Usage: tools/check_invariants.sh   (from anywhere; exits 1 on any break)
set -u
cd "$(dirname "$0")/.."
MAIN=src/main/scala/graft
fail=0

# hits of an extended regex in main code outside the allowed files
# (paths relative to $MAIN, matched as prefixes)
outside() {
  local pattern="$1"; shift
  local hits
  hits=$(grep -rnE "$pattern" "$MAIN" --include='*.scala' | sed "s|^$MAIN/||")
  for allowed in "$@"; do
    hits=$(printf '%s\n' "$hits" | grep -v "^$allowed" || true)
  done
  printf '%s' "$hits" | sed '/^$/d'
}

check() {
  local what="$1" hits="$2"
  if [ -n "$hits" ]; then
    echo "FAIL: $what"
    printf '%s\n' "$hits" | sed 's/^/  /'
    fail=1
  else
    echo "ok:   $what"
  fi
}

check "Generations.stage/commit called only inside Generations" \
  "$(outside 'Generations\.(stage|commit)\(' ops/Generations.scala)"
check "raw fs.open/fs.create/IOUtils only inside StateFiles" \
  "$(outside 'fs\.open\(|fs\.create\(|IOUtils' ops/StateFiles.scala)"
check "startsWith(\"__batch=\") only inside Generations.batchIds" \
  "$(outside 'startsWith\("__batch="\)' ops/Generations.scala)"
check "partitionBy(...\"__batch\"...) only inside Generations.writeBatch" \
  "$(outside 'partitionBy\([^)]*"__batch"' ops/Generations.scala ops/Graph.scala contract/ Bench.scala)"
# a call's arguments may span lines: match balanced parentheses over the file
check "no hash repartition(...col(\"__kb\")) under streaming/ (byBucket's is repartitionById)" \
  "$(find "$MAIN/streaming" -name '*.scala' -exec perl -0777 -ne '
      while (/\brepartition(\((?:[^()]++|(?1))*\))/g) {
        my ($args, $at) = ($1, $-[0]);
        next unless $args =~ /col\("__kb"\)/;
        (my $flat = $args) =~ s/\s+/ /g;
        printf "%s:%d: repartition%s\n", $ARGV, 1 + (substr($_, 0, $at) =~ tr/\n//), $flat;
      }' {} + | sed "s|^$MAIN/||")"
check "no newSession( or GlobalTempView in main code" \
  "$(outside 'newSession\(|GlobalTempView')"
check "no session-conf spark.sql.sources.partitionOverwriteMode in main code" \
  "$(outside 'spark\.sql\.sources\.partitionOverwriteMode')"
check "no localCheckpoint in streaming/Sinks.scala" \
  "$(grep -nE 'localCheckpoint' "$MAIN/streaming/Sinks.scala" | sed "s|^|streaming/Sinks.scala:|")"

# Sinks.scala: one merge body and one directory commit over BucketTable
SINKS="$MAIN/streaming/Sinks.scala"
at_most_once() {
  local what="$1" pattern="$2" hits
  hits=$(grep -nF "$pattern" "$SINKS" | sed "s|^|streaming/Sinks.scala:|")
  if [ "$(printf '%s\n' "$hits" | grep -c .)" -gt 1 ]; then
    check "$what" "$hits"
  else
    echo "ok:   $what"
  fi
}
at_most_once "the __kb hash pmod(hash( appears once in Sinks.scala" 'pmod(hash('
at_most_once "the touched collect's mapPartitions( appears once in Sinks.scala" 'mapPartitions('
# the directory target's block: its class line up to its closing brace
dir_block=$(awk '/^  private final class DirTable/ {on=1} on {print NR} on && /^  }$/ {exit}' "$SINKS")
dir_first=$(printf '%s\n' "$dir_block" | head -1)
dir_last=$(printf '%s\n' "$dir_block" | tail -1)
check "commitBuckets(/finishCommit(/StageDir only inside the directory target" \
  "$(grep -nE 'commitBuckets\(|finishCommit\(|StageDir' "$SINKS" | awk -F: -v a="${dir_first:-0}" \
     -v b="${dir_last:-0}" '$1 < a || $1 > b' | grep -v 'private val StageDir' |
     sed "s|^|streaming/Sinks.scala:|")"
check "no TruncateTarget in streaming/Sinks.scala" \
  "$(grep -n 'TruncateTarget' "$SINKS" | sed "s|^|streaming/Sinks.scala:|")"

# Graph keeps exactly one hand-written __batch write: the append-mode fold
graph=$(grep -nE 'partitionBy\([^)]*"__batch"' "$MAIN/ops/Graph.scala")
graph_append=$(grep -nE -B1 'partitionBy\([^)]*"__batch"' "$MAIN/ops/Graph.scala" | grep -c 'mode("append")')
if [ "$(printf '%s\n' "$graph" | grep -c .)" -gt 1 ] || \
   { [ -n "$graph" ] && [ "$graph_append" -ne 1 ]; }; then
  check "Graph's only __batch write is the append-mode fold" "$graph"
else
  echo "ok:   Graph's only __batch write is the append-mode fold"
fi

exit $fail
