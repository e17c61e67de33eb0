#!/bin/bash
# Append-vs-rebuild measurement over a fixture dir (default: the Zipf
# realistic-vocabulary corpus from graft.tools.ZipfFixture).
#
# Each measurement is ONE materialization in ONE fresh JVM
# (`graft.tools.Entry time`):
#   append side  -> durable store pre-warmed with the base artifacts
#                   (SPARK_GRAFT_INDEX_DIR), so the timed run pays
#                   delta-only work — the incremental-ingest shape;
#   rebuild side -> store disabled (SPARK_GRAFT_NO_INDEX_STORE=1), so the
#                   timed run pays the full from-scratch compute.
# Median of 3 per side; prints one PAIR line per family with the ratio.
#
# A `_floor` probe (bare corpus scan + noop write in a fresh JVM) is
# measured first so every ratio can be read against the fixed session
# cost.
#
# Usage: tools/append_bench.sh [fixtureDir] [warmStoreDir] [jsonOut]
#   jsonOut (optional): write the machine-readable ratio table — the
#   round-close artifact (APPEND_r{N}.json) the judge diffs like BENCH
#   files. One object per pair: {pair, corpus, n_docs, append_s,
#   rebuild_s, ratio, floor_s, runs}.
set -e
FIX=${1:-fixtures/zipf}
STORE=${2:-/tmp/zipf_warm_store}
OUT=${3:-}
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
# full JDK17 add-opens set (matches build.sbt): at the 400k-doc fixture,
# checkpoint blocks spill SERIALIZED and Kryo's ByteBuffer serializer
# needs java.nio opened — the 40k runs never serialized a block, so the
# single add-exports was enough only by accident
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# XMX override: the 400k canonical rebuild OOMs intermittently at 24g
# (r14 lost 1 run of 6; r15 lost a whole staged sweep to it) — the box
# has headroom, and a fresh JVM per measurement keeps the number honest.
# Default raised 24g -> 40g in r16 so the default can never repeat the
# r15 loss (the box has 128 GiB; one measurement JVM runs at a time).
JAVA="java -cp $CP $OPENS --add-exports java.base/sun.nio.ch=ALL-UNNAMED -Xmx${XMX:-40g}"

# PAIRS_OVERRIDE: space/newline-separated subset for staged runs on the
# larger fixtures (each rebuild side at 400k docs is minutes; a full
# 11-pair sweep there is hours — run in slices, merge the JSONs).
PAIRS=${PAIRS_OVERRIDE:-"
dedup_minhash_append:dedup_minhash_lsh
dedup_containment_append:dedup_containment
dedup_semdedup_append:dedup_semdedup
dedup_substring_append:dedup_substring
dedup_substring_append_delta:dedup_substring
dedup_substring_canonical_append:dedup_substring_canonical
dedup_substring_canonical_append_delta:dedup_substring_canonical
bm25_maintain_postings_delta:bm25_maintain_postings
bm25_maintain_weights:bm25_maintain_weights
dedup_embed_append:dedup_embed_cosine
"}
# The r14 bm25 pair (sim_bm25_append_topk:sim_bm25_topk) fused a
# corpus-sized query batch into both sides, so it measured SERVING, not
# maintenance (r14 VERDICT weak). Maintenance is now its own two pairs:
# the delta postings segment (O(delta) vs the full tokenize) and the
# weight refresh (re-weight stored postings vs tokenize-and-weigh).
# Serving wall-clock is recorded separately via `Entry time ... sim_bm25_topk`.

# KEEP_STORE=1 reuses an already-warmed store (staged runs on the large
# fixtures, where one prep pass is tens of minutes)
if [ "${KEEP_STORE:-0}" != "1" ]; then rm -rf "$STORE"; fi
echo "# prep: warming $STORE with base artifacts (untimed)"
for p in $PAIRS; do
  a=${p%%:*}
  SPARK_GRAFT_INDEX_DIR=$STORE $JAVA graft.tools.Entry time "$FIX" "$a" >/dev/null 2>&1
done

median() { printf '%s\n' "$@" | sort -n | awk '{v[NR]=$1} END{print v[int((NR+1)/2)]}'; }

ROWS=/tmp/append_bench_rows.$$.tsv
: > "$ROWS"
trap 'rm -f "$ROWS"' EXIT

# set -e cannot abort inside a $(...) capture in an array assign, so a
# failed timed run would otherwise append an empty string and silently
# skew the median and the emitted JSON — validate every capture instead.
require_time() { # <value> <label>
  case "$1" in
    ''|*[!0-9.]*) echo "FATAL: timed run for $2 produced '$1'" >&2; exit 1;;
  esac
}

ft=()
for i in 1 2 3; do
  t="$($JAVA graft.tools.Entry time "$FIX" _floor 2>/dev/null | awk '$1=="TIME_ENTRY"{print $3}')"
  require_time "$t" "_floor"
  ft+=("$t")
done
FLOOR=$(median "${ft[@]}")
echo "FLOOR ${FLOOR}s (bare scan+noop, fresh JVM; runs: ${ft[*]})"

for p in $PAIRS; do
  a=${p%%:*}; r=${p##*:}
  at=(); rt=(); astore=""
  for i in 1 2 3; do
    out="$(SPARK_GRAFT_INDEX_DIR=$STORE $JAVA graft.tools.Entry time "$FIX" "$a" 2>/dev/null)"
    t="$(printf '%s\n' "$out" | awk '$1=="TIME_ENTRY"{print $3}')"
    # REUSE certificate: cb=0 on the warmed-store side proves the timed
    # JVM rebuilt nothing — the append reading is delta work + store reads
    astore="$(printf '%s\n' "$out" | awk '$1=="TIME_ENTRY_STORE"{print $3" "$4}')"
    require_time "$t" "append:$a"; at+=("$t")
    t="$(SPARK_GRAFT_NO_INDEX_STORE=1 $JAVA graft.tools.Entry time "$FIX" "$r" 2>/dev/null | awk '$1=="TIME_ENTRY"{print $3}')"
    require_time "$t" "rebuild:$r"; rt+=("$t")
  done
  am=$(median "${at[@]}"); rm_=$(median "${rt[@]}")
  ratio=$(python3 -c "print(round($am/$rm_,3))")
  echo "PAIR append=$a ${am}s rebuild=$r ${rm_}s ratio=$ratio store=[$astore] (runs: append=${at[*]} rebuild=${rt[*]})"
  printf '%s\t%s\t%s\t%s\t%s\t%s\t%s\n' "$a:$r" "$am" "$rm_" "$ratio" "${at[*]}" "${rt[*]}" "$astore" >> "$ROWS"
done

if [ -n "$OUT" ]; then
  NDOCS=$(python3 -c "
import duckdb
print(duckdb.sql(\"select count(*) from '$FIX/documents.parquet'\" if __import__('os').path.isfile('$FIX/documents.parquet') else \"select count(*) from '$FIX/documents.parquet/*.parquet'\").fetchone()[0])")
  python3 - "$ROWS" "$OUT" "$FIX" "$NDOCS" "$FLOOR" <<'EOF'
import json, sys
rows_path, out, fix, ndocs, floor = sys.argv[1:6]
pairs = []
for line in open(rows_path):
    fields = line.rstrip("\n").split("\t")
    pair, a, r, ratio, aruns, rruns = fields[:6]
    store = fields[6] if len(fields) > 6 else ""
    row = {
        "pair": pair, "corpus": fix, "n_docs": int(ndocs),
        "append_s": float(a), "rebuild_s": float(r), "ratio": float(ratio),
        "floor_s": float(floor),
        "runs": {"append": [float(x) for x in aruns.split()],
                 "rebuild": [float(x) for x in rruns.split()]}}
    if store:
        row["append_store"] = store
    pairs.append(row)
json.dump({"fixture": fix, "n_docs": int(ndocs), "floor_s": float(floor),
           "pairs": pairs}, open(out, "w"), indent=1)
print(f"wrote {out} ({len(pairs)} pairs)")
EOF
fi
rm -f "$ROWS"
