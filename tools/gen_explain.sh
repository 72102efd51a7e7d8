#!/usr/bin/env bash
# Regenerate docs/EXPLAIN.md from graft.ExplainAudit, normalized so the
# committed dump is diff-stable: running it twice in a row leaves an
# empty diff, so a diff shows only real plan-shape changes. sbt's own
# compile and warning lines are dropped. Normalized:
#  - JVM identity hashes of any length ([J@6e8cf16c, [[D@e76aa — array
#    literals in expression trees print their object address)
#  - RDD ids (MapPartitionsRDD[56]) and exchange plan ids ([plan_id=24])
#  - the per-JVM artifact cache dirs (/tmp/graft-ann-art<random>)
#  - merged-shard names, which carry a clock stamp (batch=m4dbc316f41eu2)
#  - lambda class names (Multimodal$$$Lambda$6110/0x00007f8005628798)
#  - source positions in RDD names (at localCheckpoint at
#    TextAnalysis.scala:1019), which move with any edit above the call
#  - the corpus fingerprint in bucketed table names
#    (graft_docs_b_196152c77a4), which follows the fixture files' stats
#  - expression ids (node#8614L), which shift with the order eager
#    builds run in: renumbered from 1 in order of first appearance
#    within each plan section, so the links between operators stay
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch "runMain graft.ExplainAudit" 2>/dev/null \
  | sed 's/^\[info\] //' \
  | grep -v -E '^(\[error\]|\[warn\]|compiling [0-9]+ Scala source|done compiling)' \
  | sed -E -e 's/([^ ])@[0-9a-f]+\b/\1@ADDR/g' \
      -e 's/RDD\[[0-9]+\]/RDD[N]/g' \
      -e 's/\[plan_id=[0-9]+\]/[plan_id=N]/g' \
      -e 's/graft-ann-art[0-9]+/graft-ann-artN/g' \
      -e 's/=m[0-9a-f]+u([0-9]+)/=mSTAMPu\1/g' \
      -e 's/\$\$Lambda\$[0-9]+\/0x[0-9a-f]+/$$Lambda/g' \
      -e 's/ at ([A-Za-z0-9_$]+)\.scala:[0-9]+/ at \1.scala:LINE/g' \
      -e 's/(graft_[a-z]+_b)_[0-9a-f]+/\1_FP/g' \
  | perl -pe 'if (/^## /) { %id = (); $n = 0 } s/#(\d+)/"#" . ($id{$1} \/\/= ++$n)/ge' \
  > docs/EXPLAIN.md
echo "docs/EXPLAIN.md regenerated ($(grep -c '^## ' docs/EXPLAIN.md) plans)"
