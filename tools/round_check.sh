#!/usr/bin/env bash
# CI-style round gate: every check the judge's driver runs, runnable
# locally in one shot. Usage: tools/round_check.sh [sf_bench_dir]
#
#   1. no engine toggles: src/main names no `spark.graft.*` conf key
#      and no SPARK_GRAFT_ARTIFACTS mount, and no src/main file outside
#      the five dev mains (Bench, Verify, GenData, KernelBench,
#      Explain) reads the environment, so an answer depends only on
#      (query, corpus) and no memo key has a conf to carry; and no
#      src/main file but PlanMemo.scala names `corpusFingerprint`, so
#      the corpus version of every memo and artifact is decided in one
#      place, never spelled into a key by a caller; and no src/main
#      file but Tables.scala and PlanMemo.scala calls `read.parquet`
#      (one reader per corpus table, one per artifact), none but
#      StreamingQueries.scala calls `readStream` (the dev mains
#      included: they read through Tables like the engine does), no
#      src/main site wraps `publishedParquet` in `cached`/`cachedEager`
#      (it is the artifact's session memo), and no artifact name passed
#      to `publishedParquet`/`publishedParquetBy` is spelled at more
#      than one src/main call site, so each parquet source has one
#      owner: tables, published artifacts, drains; and no media codec
#      call (`ImageIO.write(`/`read(`, `writeToSequence`, the GIF
#      writer/reader lookups, `WavCodec.writer.write`,
#      `getAudioInputStream`) nor the IVF cell score
#      (`sparkDot("embedding", "c_emb")`) nor the near-dup keep-one
#      screen (the DuckDB closure's recursive step `SELECT e.b, r.lbl`,
#      the engine's loser filter `col("node") =!= col("lbl")`) is
#      spelled at more than one src/main code site (comment lines
#      skipped), so each kernel recipe has one owner that the query
#      bodies and oracles call; and every
#      `SparkSession.builder()` in src/main is the argument of
#      `Tables.configure(` (of `configure(` inside Tables.scala), so
#      every entry point's session carries the same settings — graft's
#      extensions, UTC, and one executor class loader plus a codegen
#      cache sized to the working set, without which each session
#      compiles every generated class again
#   2. full scalatest suite
#   3. Verify + DuckDB oracle compare at sf0.01 (the correctness gate)
#   4. Bench at sf0.1 (min-of-3) -> bench_local.json
#   5. scale_check against the committed GenData benches (skipped when
#      a pair file is missing) — catches super-linear regressions
#      without a judge in the loop
set -euo pipefail
cd "$(dirname "$0")/.."

SF_BENCH_DIR="${1:-/root/testdata/sf0.1}"

echo "== 1/5 no engine toggles =="
if grep -rnE 'spark\.graft\.|SPARK_GRAFT_ARTIFACTS' src/main; then
  echo "round_check: src/main reads an engine toggle (above)" >&2
  exit 1
fi
dev_mains='/(Bench|Verify|GenData|KernelBench|Explain)\.scala:'
if grep -rnE 'sys\.env|System\.getenv' src/main | grep -vE "$dev_mains"; then
  echo "round_check: engine code reads the environment (above)" >&2
  exit 1
fi
if grep -rn 'corpusFingerprint' src/main | grep -v '/PlanMemo\.scala:'; then
  echo "round_check: corpus versioning outside PlanMemo (above)" >&2
  exit 1
fi
code_lines() { grep -vE '^[^:]+:[0-9]+:\s*(\*|//)'; }
if grep -rn 'read\.parquet' src/main \
    | grep -vE "/(Tables|PlanMemo)\.scala:" | code_lines; then
  echo "round_check: a batch parquet reader outside Tables/PlanMemo" \
    "(above)" >&2
  exit 1
fi
if grep -rn 'readStream' src/main \
    | grep -vE "/StreamingQueries\.scala:" | code_lines; then
  echo "round_check: a stream reader outside StreamingQueries (above)" >&2
  exit 1
fi
if grep -rlzP 'cached(Eager)?\([^()]*\)\s*[({]\s*(//[^\n]*\n\s*)*(PlanMemo\.)?publishedParquet' \
    src/main | grep -v '/PlanMemo\.scala$'; then
  echo "round_check: a memo wraps publishedParquet, which is already" \
    "the artifact's session memo (files above)" >&2
  exit 1
fi
artifact_sites=$(grep -rozP \
    'publishedParquet(By)?\([^,]*,[^,]*,\s*\K"[^"]+"' src/main | tr '\0' '\n')
dup_artifacts=$(cut -d: -f2 <<<"$artifact_sites" | sort | uniq -d)
if [[ -n "$dup_artifacts" ]]; then
  grep -F "$dup_artifacts" <<<"$artifact_sites"
  echo "round_check: an artifact is spelled at more than one call site" \
    "(above) — give it one owning function" >&2
  exit 1
fi

for recipe in 'ImageIO.write(' 'ImageIO.read(' 'writeToSequence' \
    'getImageWritersByFormatName' 'getImageReadersByFormatName' \
    'WavCodec.writer.write' 'getAudioInputStream' \
    'sparkDot("embedding", "c_emb")' 'SELECT e.b, r.lbl' \
    'col("node") =!= col("lbl")'; do
  recipe_sites=$(grep -rnF "$recipe" src/main | code_lines || true)
  if (( $(grep -c . <<<"$recipe_sites") > 1 )); then
    echo "$recipe_sites"
    echo "round_check: \`$recipe\` is spelled at more than one src/main" \
      "site (above) — call the recipe's one owner" >&2
    exit 1
  fi
done

# a builder's callee: the `name(` just before it, across line breaks
if find src/main -name '*.scala' -print0 | xargs -0 perl -0777 -ne '
    my $tables = $ARGV =~ m{/Tables\.scala$};
    while (/([\w.]*\()?\s*SparkSession\.builder\b/g) {
      my $callee = $1 // "";
      next if $callee eq "Tables.configure(" ||
        ($tables && $callee eq "configure(");
      my $at = $-[0] + length($&) - length("SparkSession.builder");
      my $n = 1 + (substr($_, 0, $at) =~ tr/\n//);
      my ($line) = substr($_, rindex($_, "\n", $at) + 1) =~ /^(.*)/;
      next if $line =~ m{^\s*(\*|//)};
      print "$ARGV:$n:$line\n";
      $bare = 1;
    }
    END { exit($bare ? 0 : 1) }'; then
  echo "round_check: a SparkSession.builder() outside Tables.configure" \
    "(above) — build every session through it" >&2
  exit 1
fi

echo "== 2/5 scalatest =="
sbt -batch test

echo "== 3/5 correctness (sf0.01 vs DuckDB) =="
rm -rf /tmp/round_verify
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/round_verify"
python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/round_verify

echo "== 4/5 bench (sf0.1, min-of-3) =="
SPARK_GRAFT_SF_DIR="$SF_BENCH_DIR" SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench"

echo "== 5/5 scale linearity =="
check_pair() {
  local lo="$1" hi="$2" ratio="$3"
  if [[ -f "$lo" && -f "$hi" ]]; then
    echo "-- $lo -> $hi (x$ratio)"
    python3 tools/scale_check.py "$lo" "$hi" "$ratio" || true
  else
    echo "-- skip $lo -> $hi (missing record)"
  fi
}
check_pair BENCH_gensf0.1.json BENCH_sf1.json 10
check_pair BENCH_sf1.json BENCH_sf3.json 3
check_pair BENCH_sf3.json BENCH_sf10.json 3.33

echo "round_check: all gates run"
