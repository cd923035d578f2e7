#!/usr/bin/env bash
# Pre-commit / end-of-session gate: the minimum that must be green before
# ANY commit lands — r06's round-zeroing lesson (an uncompiled edit swept
# into the end-of-round snapshot empties the driver artifacts for the whole
# round). Compile main+tests + the driver-style smoke in ONE sbt JVM, then
# FAIL on a dirty tree: a passing working tree over an uncommitted fix is
# exactly the state that zeroed round 6. The full oracle gate stays in
# run_gate.sh.
set -euo pipefail
cd "$(dirname "$0")/.."

# Parquet reads build their options from the one JVM-wide configuration
# (LokiColumnarReader.conf). The one-argument ParquetFileReader.open and the
# no-argument ParquetReadOptions.builder() each parse Hadoop's
# core-default.xml/core-site.xml again, which cost more than decoding a
# 5,000-row response page. Calls may span lines, so match whole files with
# balanced parentheses and look for a top-level comma in the arguments.
per_call=$(find src/main -name '*.scala' -exec perl -0777 -ne '
  sub at { 1 + (substr($_, 0, $_[0]) =~ tr/\n//) }
  while (/ParquetFileReader\.open\s*(\(((?:[^()]++|(?1))*)\))/g) {
    my ($call, $args, $line) = ($&, $2, at($-[0]));
    $args =~ s/(\((?:[^()]++|(?1))*\))//g;
    print "$ARGV:$line: $call\n" unless $args =~ /,/;
  }
  print "$ARGV:", at($-[0]), ": $&\n" while /ParquetReadOptions\.builder\s*\(\s*\)/g;
' {} +)
if [[ -n "$per_call" ]]; then
  echo "FAIL: parquet read options built from per-call defaults; pass" >&2
  echo "ParquetReadOptions.builder(LokiColumnarReader.conf) instead:" >&2
  echo "$per_call" >&2
  exit 1
fi

# One pushdown channel: LokiPushdownRule captures WHERE conjuncts into a
# log scan through the one cascade, LogQL.translate. A rule under
# graft/plans calling a single translator directly grows a second cascade
# (three once copied it by hand), and a log scan builder taking DSv2
# filters grows a second capture site (it once had its own translator with
# its own copy of the timestamp arithmetic). LokiMetaScanBuilder's `label`
# filter feeds the label-values API, not a log query, and stays.
second_channel=$(
  grep -rnE 'LogQL\.(timestampBound|labelMatcher|parsedPredicate)\(' \
    src/main/scala/graft/plans --include='*.scala' || true
  find src/main -name '*.scala' -exec perl -0777 -ne '
    while (/\bclass\s+(\w*ScanBuilder)\b[^{]*?\bSupportsPushDownFilters\b/g) {
      my $line = 1 + (substr($_, 0, $-[0]) =~ tr/\n//);
      print "$ARGV:$line: $1 mixes in SupportsPushDownFilters\n"
        unless $1 eq "LokiMetaScanBuilder";
    }' {} +)
if [[ -n "$second_channel" ]]; then
  echo "FAIL: a second pushdown channel; route conjuncts through" >&2
  echo "LogQL.translate in LokiPushdownRule instead:" >&2
  echo "$second_channel" >&2
  exit 1
fi

# Only the three entry points the scripts and docs use may define a
# `main`: dev-only mains with no caller once grew to ~1,200 lines.
extra_mains=$(grep -rlE '^\s*def main\s*\(|extends\s+App\b' src/main --include='*.scala' |
  grep -vE '/graft/(Smoke|Verify|Bench)\.scala$' || true)
if [[ -n "$extra_mains" ]]; then
  echo "FAIL: an entry point (\`def main\` or \`extends App\`) outside Smoke, Verify and Bench:" >&2
  echo "$extra_mains" >&2
  exit 1
fi

# One string escaper (LogQL.quoteTo): LogQL values, push payloads, stub
# responses and oracle_sql.json all need the same Go/JSON escapes, and the
# table once had five copies. A `%04x` control-character escape marks one.
escapers=$(grep -rl '%04x' src/main --include='*.scala' || true)
if [[ $(printf '%s' "$escapers" | grep -c .) -gt 1 ]]; then
  echo "FAIL: more than one string escaper under src/main; call LogQL.quote" >&2
  echo "or LogQL.quoteTo instead:" >&2
  echo "$escapers" >&2
  exit 1
fi

sbt -batch Test/compile "runMain graft.Smoke" | tee /tmp/precommit_smoke.out

# The benchmark (perfbench/) is its own sbt build on top of this one, so a
# renamed connector method it calls breaks only the benchmark run: compile
# it here too, resolving offline like the test run.
(cd perfbench && COURSIER_MODE=offline SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}" \
  sbt --batch compile)

# Gate-count consistency (round-12 directive 4): SURVEY.md's "FINAL gate: N
# queries" claim must equal len(SparkEntry.queries), which the Smoke run
# just printed — the docs froze at 178 in round 11 while the gate shipped
# 179, and typed-not-derived close-out numbers are how that recurs.
# `|| true`: a no-match grep exits 1, and under set -e/pipefail that would
# kill the script HERE — before the guards below that exist to handle
# exactly the no-match cases with a real message / a deliberate skip
actual=$(grep -oE 'gate_queries=[0-9]+' /tmp/precommit_smoke.out | cut -d= -f2 || true)
# LAST match: earlier rounds' historical "FINAL gate: N" claims stay as-is
claimed=$(grep -oE 'FINAL gate: [0-9]+ queries' SURVEY.md | grep -oE '[0-9]+' | tail -1 || true)
if [[ -z "$actual" ]]; then
  echo "FAIL: Smoke did not report gate_queries" >&2
  exit 1
fi
if [[ -n "$claimed" && "$actual" != "$claimed" ]]; then
  echo "FAIL: SURVEY.md claims a $claimed-query gate but SparkEntry.queries has $actual" >&2
  exit 1
fi

if [[ -n "$(git status --porcelain)" ]]; then
  echo "FAIL: working tree dirty — commit or drop before round end:" >&2
  git status --porcelain >&2
  exit 1
fi
echo "precommit: green"
