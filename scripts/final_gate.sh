#!/bin/bash
# Round-end final gate (VERDICT r11 "next round" #4): refuse to finish
# a session with a tree that is dirty or does not compile. Run AFTER
# the literal last edit of the session, BEFORE the snapshot — the r11
# snapshot captured a half-finished refactor that broke the build and
# zeroed the round's driver gate.
#
# Usage: scripts/final_gate.sh [--allow-dirty]
#   --allow-dirty  skip the clean-tree check (mid-round compile gate)
set -u
cd "$(dirname "$0")/.."

fail() { echo "FINAL GATE FAIL: $*" >&2; exit 1; }

# Persist the builder's closing bench under a name the driver won't
# clobber (VERDICT r12 #1): the driver overwrites bench_out.json each
# round, which destroyed the r12 warm numbers. A full-catalog run with
# at least one timed pass is copied to BENCH_builder.json; dev-loop
# artifacts (BENCH_ONLY subsets, warmup-only runs) are ignored.
if [ -f bench_out.json ]; then
  if python3 -c '
import json, sys
d = json.load(open("bench_out.json"))
full = d.get("completed", 0) == d.get("planned", -1)
ok = full and d.get("passes", 0) >= 1 and not d.get("errors")
sys.exit(0 if ok else 1)'; then
    if ! cmp -s bench_out.json BENCH_builder.json 2>/dev/null; then
      cp bench_out.json BENCH_builder.json
      echo "final_gate: persisted bench_out.json -> BENCH_builder.json" \
        "(commit it)" >&2
    fi
  fi
fi

if [ "${1:-}" != "--allow-dirty" ]; then
  if [ -n "$(git status --porcelain)" ]; then
    git status --porcelain >&2
    fail "dirty tree — commit or stash before ending the session"
  fi
fi

# One local session builder, and the engine's SQL functions and optimizer
# rules come from the extension's service file, never per call site.
# (Tests may read extraOptimizations to assert that it stays empty.)
builders=$(grep -rl 'SparkSession.builder()' src |
  grep -vx 'src/main/scala/graft/LocalSession.scala' | tr '\n' ' ')
[ -z "$builders" ] ||
  fail "SparkSession.builder() outside graft.LocalSession: $builders"
hand=$( { grep -rl 'GraftExtensions\.register' src
  grep -rl 'extraOptimizations' src/main; } | sort -u | tr '\n' ' ')
[ -z "$hand" ] ||
  fail "GraftExtensions.register or extraOptimizations in src/: $hand"

# Bloom filters and exact-distinct bitmaps are Spark's built-ins
# (graft_bloom_filter_agg / graft_might_contain, bitmap_*); the
# hand-written aggregators they replaced stay deleted.
copies=$(grep -rlwE 'BloomFilterAgg|BitmapDistinctAgg|BitmapSketchAgg|BitmapOrCountAgg' src |
  tr '\n' ' ')
[ -z "$copies" ] ||
  fail "hand-written bloom/bitmap aggregator in src/: $copies"

# A served request is one Spark execution: results documents render on
# the driver from the collected page, and the server never counts first.
if grep -qwE 'collect_list|row_number' src/main/scala/graft/rdf/SparqlResults.scala; then
  fail "Spark-side results rendering (collect_list/row_number) in SparqlResults.scala"
fi
if grep -qF '.count()' src/main/scala/graft/rdf/SparqlServer.scala; then
  fail ".count() in SparqlServer.scala: collect the capped page once instead"
fi

# A write never changes the session's conf: dynamic partition overwrite
# is a writer option. The store's predicate statistics have one
# aggregation, QuadStats.compute.
if grep -rqF 'spark.sql.sources.partitionOverwriteMode' src/main; then
  fail "spark.sql.sources.partitionOverwriteMode in src/main: pass partitionOverwriteMode as a writer option"
fi
stats=$(grep -rlF 'countDistinct(col("subject"), col("objectValue"))' src/main |
  grep -vx 'src/main/scala/graft/rdf/QuadStats.scala' | tr '\n' ' ')
[ -z "$stats" ] ||
  fail "predicate statistics aggregation outside QuadStats.compute: $stats"

# A graft_* function that is one kernel call is a StaticInvoke
# (GraftExtensions.kernel); hand-written codegen stays only in the
# expressions that hold per-plan state.
gen=$(grep -rl 'doGenCode' src/main/scala/graft/plans |
  grep -vxE 'src/main/scala/graft/plans/(SfRelate|GeomConstruct)Expression\.scala' |
  tr '\n' ' ')
[ -z "$gen" ] ||
  fail "hand-written doGenCode in src/main/scala/graft/plans: $gen"

# A SPARQL FILTER clause has one representation: Query.filters holds
# each clause as a DNF of FilterAtoms, and HAVING has one list.
dup=$(grep -owE 'varFilters|inFilters|boundFilters|filterFns|exprFilters|boolFilters|termFilters|orFilters|havingComputed' \
  src/main/scala/graft/rdf/SparqlParser.scala | sort -u | tr '\n' ' ')
[ -z "$dup" ] ||
  fail "per-kind filter fields in SparqlParser.scala (use Query.filters): $dup"

# Every JDK HTTP server is built by SparqlServer.httpServer, whose object
# sets sun.net.httpserver.nodelay first: the JDK reads it once per JVM,
# and without it every response waits ~40 ms for a delayed ACK.
jdk=$(grep -rl 'HttpServer\.create' src |
  grep -vx 'src/main/scala/graft/rdf/SparqlServer.scala' | tr '\n' ' ')
[ -z "$jdk" ] ||
  fail "HttpServer.create outside SparqlServer.scala (use SparqlServer.httpServer): $jdk"

sbt -batch compile >/tmp/final_gate_compile.log 2>&1 ||
  { tail -20 /tmp/final_gate_compile.log >&2; fail "sbt compile failed"; }

echo "FINAL GATE OK: $(git rev-parse --short HEAD) clean, compiles" \
  "($(date -u +%FT%TZ))"
