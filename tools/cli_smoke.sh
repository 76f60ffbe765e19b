#!/bin/bash
# Black-box CLI smoke suite — port of the reference's smoke.sh
# (/root/reference/smoke.sh): REPL banner, CSV load, --sql one-shot, csv
# formatter header, stdin CSV, SET FORMAT, bad-flag error.
# Usage: bash tools/cli_smoke.sh   (needs `sbt compile` done first)
set -u
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
run() { java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx2g -cp "$CP" graft.cli.Repl "$@" 2>/dev/null; }

pass=0; fail=0
check() { # name, expected-grep, actual
  if echo "$3" | grep -q "$2"; then pass=$((pass+1)); echo "ok   - $1"
  else fail=$((fail+1)); echo "FAIL - $1 (wanted /$2/):"; echo "$3" | head -5; fi
}

CSV=$(mktemp --suffix=.csv)
printf 'id,name,value\n1,Alice,100\n2,Bob,200\n3,Charlie,300\n' > "$CSV"

# 1. REPL banner
out=$(echo "EXIT" | run)
check "repl banner" "graft-sql" "$out"

# 2. LOAD TABLE + SELECT
out=$(printf "LOAD TABLE t FROM '%s'\nSELECT name FROM t WHERE value > 150\nEXIT\n" "$CSV" | run)
check "csv load + select" "Charlie" "$out"

# 3. --sql one-shot with positional file
out=$(run "$CSV" --sql "SELECT COUNT(*) AS n FROM table")
check "--sql one-shot" "| 3" "$out"

# 4. csv formatter header
out=$(run "$CSV" --sql "SELECT id, name FROM table ORDER BY id" --output-format csv)
check "csv formatter header" "^id,name" "$out"

# 5. stdin CSV as table
out=$(printf 'id,name\n1,Alice\n2,Bob\n' | run --sql "SELECT name FROM table ORDER BY id")
check "stdin csv" "Bob" "$out"

# 6. SET FORMAT
out=$(printf "LOAD TABLE t FROM '%s'\nSET FORMAT csv\nSELECT id FROM t ORDER BY id LIMIT 1\nEXIT\n" "$CSV" | run)
check "set format" "format=csv" "$out"

# 7. bad flag → error exit
run --definitely-not-a-flag >/dev/null 2>&1
rc=$?
if [ "$rc" = "2" ]; then pass=$((pass+1)); echo "ok   - bad flag exit code"
else fail=$((fail+1)); echo "FAIL - bad flag exit code (got $rc)"; fi

# 8. DESCRIBE with stats, reference-exact shape (main.cpp:188-208)
out=$(printf "LOAD TABLE t FROM '%s'\nDESCRIBE t\nEXIT\n" "$CSV" | run)
check "describe stats" "id INT64 (ndv: 3, min: 1, max: 3)" "$out"
check "describe header" "Table: t (3 rows)" "$out"

# 10. --all-rows + truncation marker
BIGCSV=$(mktemp --suffix=.csv)
{ echo "n"; seq 1 1200; } > "$BIGCSV"
out=$(run "$BIGCSV" --sql "SELECT n FROM table ORDER BY n")
check "truncation marker" "(first 1000 rows)" "$out"
out=$(run "$BIGCSV" --all-rows --sql "SELECT COUNT(*) AS c FROM (SELECT n FROM table) t")
check "all-rows flag accepted" "| 1200" "$out"

# 12. EXPLAIN prints optimized logical + physical plans (main.cpp:209-228 superset)
out=$(printf "LOAD TABLE t FROM '%s'\nEXPLAIN SELECT name FROM t WHERE value > 150\nEXIT\n" "$CSV" | run)
check "explain logical" "Optimized Logical Plan" "$out"
check "explain physical" "Physical Plan" "$out"

# 11. ragged CSV rejected like the reference (csv_loader.cpp:34-36)
RAGGED=$(mktemp --suffix=.csv)
printf 'a,b,c\n1,2,3\n4,5\n' > "$RAGGED"
out=$(printf "LOAD TABLE r FROM '%s'\nEXIT\n" "$RAGGED" | run)
check "ragged row rejected" "Row size mismatch" "$out"

# 13. spark.sql.extensions injection path (fresh JVM, no register() calls)
out=$(java $OPENS -Dspark.ui.enabled=false -Xmx2g -cp "$CP" graft.tools.ExtensionsSmoke 2>/dev/null)
check "extensions injection" "EXTENSIONS_SMOKE_OK" "$out"

# 14. pipeline operators purely via --sql (graft_* views over --data-dir)
out=$(run --data-dir /root/testdata/sf0.001 --sql "SELECT COUNT(*) AS n FROM graft_dedup_minhash_lsh")
check "pipeline view dedup via --sql" "| [0-9]" "$out"
out=$(run --data-dir /root/testdata/sf0.001 --sql "SELECT doc_id, keep FROM graft_text_quality_score ORDER BY doc_id LIMIT 3")
check "pipeline view text via --sql" "^| 2 " "$out"

# 15. graft_ view without a data dir → real error, not TABLE_NOT_FOUND
out=$( (unset SPARK_GRAFT_SF_DIR; java $OPENS -Dspark.ui.enabled=false -Xmx2g -cp "$CP" graft.cli.Repl --sql "SELECT * FROM graft_dedup_exact" </dev/null 2>&1) )
check "pipeline view needs data dir" "data-dir" "$out"

# 16. SHOW PIPELINES lists the operator views
out=$(printf "SHOW PIPELINES\nEXIT\n" | run)
check "show pipelines" "graft_dedup_minhash_lsh" "$out"

# 17. stdin CSV still works when a data dir is ambient (the env the
# driver exports) — only a graft_* reference may skip the stdin read
out=$(printf 'id,name\n1,Ann\n2,Ben\n' | SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 run --sql "SELECT name FROM table ORDER BY id")
check "stdin csv with ambient data dir" "Ben" "$out"

# 9. graft extension functions usable from plain SQL in the shell
out=$(printf 'id,name\n1,x\n' | run --sql "SELECT size(shingle_hashes('a b c d')) AS n, cosine_f32(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c FROM table")
check "extension functions in SQL" "| 2 | 1.0 |" "$out"

# 18. Diag explain prints a physical plan for one query
out=$(java $OPENS -Xmx2g -cp "$CP" graft.tools.Diag explain /root/testdata/sf0.001 q4_topk 2>/dev/null)
check "diag explain" "== Physical Plan ==" "$out"

# 19. plan_diff.py: a dump directory diffed against itself changes nothing
PLANS=$(mktemp -d)
java $OPENS -Xmx2g -cp "$CP" graft.tools.Diag explain --out "$PLANS" /root/testdata/sf0.001 q4_topk sim_kmeans_step >/dev/null 2>&1
out=$(python3 tools/plan_diff.py "$PLANS" "$PLANS")
check "plan_diff self" "^changed plans: 0 of 2$" "$out"

# 20. streaming plumbing lives only in streaming/MicroBatch.scala: in
# src/main code lines (comments stripped) no other file may name the
# file-stream source, the foreachBatch runner, the AvailableNow trigger or
# a checkpoint location (grep only, no build needed)
PLUMBING='readStream|foreachBatch|Trigger\.AvailableNow|checkpointLocation'
out=$(grep -rnE --include='*.scala' "$PLUMBING" src/main \
  | grep -v '^src/main/scala/graft/streaming/MicroBatch\.scala:' \
  | sed -E 's#^([^:]*:[0-9]+:)[[:space:]]*#\1#' \
  | grep -vE '^[^:]*:[0-9]+:(//|\*|/\*)' \
  | sed -E 's#[[:space:]]//.*$##' | grep -E "$PLUMBING")
check "streaming plumbing only in MicroBatch" "^none$" "${out:-none}"

# 21. the snapshot store has one commit path: in engine/Snapshots.scala
# code lines (comments stripped as in check 20) the nonce, the staging
# write, the coordinator call and the manifest-line split each occur
# exactly once (grep only, no build needed)
SNAP=src/main/scala/graft/engine/Snapshots.scala
code=$(grep -n '' "$SNAP" | sed -E 's#^([0-9]+:)[[:space:]]*#\1#' \
  | grep -vE '^[0-9]+:(//|\*|/\*)' | sed -E 's#[[:space:]]//.*$##')
out=""
for pat in 'UUID.randomUUID' 'mode("errorifexists")' 'coordinator.publishIfAbsent' "split('\\t')"; do
  n=$(echo "$code" | grep -cF "$pat")
  [ "$n" = "1" ] || out="$out $pat=$n"
done
check "one commit path in Snapshots" "^once$" "${out:-once}"

echo "---"
echo "$pass passed, $fail failed"
exit $([ "$fail" = "0" ] && echo 0 || echo 1)
