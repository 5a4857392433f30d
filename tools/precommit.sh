#!/usr/bin/env bash
# Pre-commit gate: a commit touching Scala sources must compile and pass
# tests. Round 4's final snapshot shipped a one-character type error that
# zeroed the whole round's official verification; this makes that class of
# breakage unrepeatable. Install: ln -sf ../../tools/precommit.sh .git/hooks/pre-commit
# Bypass (artifact-only commits, emergencies): git commit --no-verify
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"

# Stale-registry-status doc guard (round 16, verdict item 2): a scaladoc
# claiming an operator is "spec-held" (unit-test-only, no oracle row) went
# stale TWICE when the oracle row landed later in the same round (docNll,
# rounds 14 and 15). Present-tense spec-held claims are now banned from
# source docs — state registry status by naming the oracle query (grep-able
# against the queries/ registry) or phrase transitions in the past tense
# ("formerly unit-test-only"). Same for the "WITHOUT an oracle row" phrasing.
if grep -rniE 'spec-held|without an oracle row' src/main/scala --include='*.scala' >/tmp/specheld_hits.txt 2>/dev/null && [[ -s /tmp/specheld_hits.txt ]]; then
  echo "[precommit] FAIL: present-tense 'spec-held'/'WITHOUT an oracle row' claim in src/main —"
  echo "[precommit] these strand docs when the oracle row lands; name the qNNN row or use past tense:"
  cat /tmp/specheld_hits.txt
  exit 1
fi

# One session builder: every main builds its SparkSession through
# graft.Harness, so the harness confs cannot drift apart again (six
# hand-copied builder chains once disagreed on cores, AQE and timeouts).
# Code lines only — a scaladoc or `//` mention of the call is fine.
if grep -rnE --include='*.scala' 'SparkSession\.builder\(' src/main/scala \
    | grep -v '^src/main/scala/graft/Harness\.scala:' \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)' >/tmp/builder_hits.txt \
    && [[ -s /tmp/builder_hits.txt ]]; then
  echo "[precommit] FAIL: SparkSession.builder() outside graft.Harness in src/main —"
  echo "[precommit] build the session with Harness.session(<conf>) instead:"
  cat /tmp/builder_hits.txt
  exit 1
fi

# Library calls never flip session state: an operator or pipeline stage
# that sets a session conf races every other query sharing the session
# (concurrent streaming batches). Pass per-call options instead, e.g.
# `.option("partitionOverwriteMode", "dynamic")` on a write.
if grep -rnE --include='*.scala' 'spark\.conf\.set\(' \
    src/main/scala/graft/operators src/main/scala/graft/pipeline \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)' >/tmp/confset_hits.txt \
    && [[ -s /tmp/confset_hits.txt ]]; then
  echo "[precommit] FAIL: spark.conf.set( in a library operator or pipeline stage —"
  echo "[precommit] pass a per-call option instead of mutating the caller's session:"
  cat /tmp/confset_hits.txt
  exit 1
fi

# No global flags in library or query code: an env read or a @volatile
# var lets a harness run a different plan from the one tests and library
# callers get. Harness mains may read env; sources/ reads deployment
# settings (API auth).
G=src/main/scala/graft
if grep -rnE --include='*.scala' 'sys\.env|@volatile' \
    $G/operators $G/pipeline $G/streaming $G/queries $G/functions \
    $G/expressions $G/QuerySupport.scala $G/SparkEntry.scala \
    $G/TradeInQueries.scala $G/MediaQueries.scala \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)' >/tmp/flag_hits.txt \
    && [[ -s /tmp/flag_hits.txt ]]; then
  echo "[precommit] FAIL: sys.env or @volatile in library or query code —"
  echo "[precommit] take the value as a parameter from the caller instead:"
  cat /tmp/flag_hits.txt
  exit 1
fi

# One doc comment per definition: scaladoc keeps only the last of two
# stacked `/** … */` blocks, so the first one is silently dropped from the
# generated docs (nine such orphans had piled up, most of them a
# definition's own doc left behind when a helper was inserted above it).
# A line opening `/**` must not directly follow a line closing one.
find src/main/scala -name '*.scala' -print0 | sort -z | xargs -0 awk '
  FNR == 1 { indoc = 0; prevdoc = 0 }
  /^[[:space:]]*$/ { next }
  {
    opens = ($0 ~ /^[[:space:]]*\/\*\*/)
    if (opens && prevdoc) print FILENAME ":" FNR ": " $0
    if (opens) indoc = 1
    closes = 0
    if (indoc && $0 ~ /\*\//) { indoc = 0; closes = ($0 ~ /\*\/[[:space:]]*$/) }
    prevdoc = closes
  }' >/tmp/stacked_doc_hits.txt
if [[ -s /tmp/stacked_doc_hits.txt ]]; then
  echo "[precommit] FAIL: stacked scaladoc blocks in src/main — only the last one"
  echo "[precommit] survives; move the earlier block onto its own definition:"
  cat /tmp/stacked_doc_hits.txt
  exit 1
fi

# No new library definition without a library caller: eleven streaming
# operators, six other defs and six whole source classes had piled up
# whose only callers were their own specs. A public def, class, object or
# trait added under operators/, functions/, streaming/, sources/,
# pipeline/, expressions/ or plans/ must be named on a code line (not a
# comment, a string or its own declaring line; a `${...}` interpolation
# counts as code) somewhere in src/main/scala or perfbench/src. Entry
# points are exempt (nothing calls them): `def main`, and an object whose
# staged body declares `def main` as a member.
# Only added lines are checked, so existing definitions need no allowlist.
git diff --cached -U0 -- src/main/scala/graft/operators \
    src/main/scala/graft/functions src/main/scala/graft/streaming \
    src/main/scala/graft/sources src/main/scala/graft/pipeline \
    src/main/scala/graft/expressions src/main/scala/graft/plans \
  | sed -nE 's/^\+[[:space:]]*((final|sealed|abstract|case|implicit)[[:space:]]+)*(def|class|object|trait)[[:space:]]+([A-Za-z_][A-Za-z0-9_]*).*/\3 \4/p' \
  | grep -vx 'def main' | sort -u >/tmp/new_defs.txt || true
# Prints the name if a staged `object <name>` declares `def main` at its
# own brace depth.
entry_point() {
  git grep --cached -l -E "(^|[[:space:]])object[[:space:]]+$1([^A-Za-z0-9_]|\$)" -- src/main/scala \
    | while read -r f; do
        git show ":$f" | awk -v n="$1" '
          !inobj && $0 ~ ("(^|[ \t])object[ \t]+" n "([^A-Za-z0-9_]|$)") { inobj = 1; depth = 0; opened = 0 }
          inobj {
            if (depth == 1 && $0 ~ /^[ \t]*((override|final)[ \t]+)*def[ \t]+main[^A-Za-z0-9_]/) { print n; exit }
            line = $0
            depth += gsub(/\{/, "", line); if (depth > 0) opened = 1
            depth -= gsub(/\}/, "", line)
            if (opened && depth <= 0) inobj = 0
          }'
      done | head -n 1
}
: >/tmp/uncalled_def_hits.txt
while read -r kind name; do
  [[ "$kind" == object && -n "$(entry_point "$name")" ]] && continue
  refs=$(git grep --cached -h -w -F -e "$name" -- src/main/scala perfbench/src \
      | grep -vE '^[[:space:]]*(\*|//|/\*)' \
      | grep -vE "(^|[^A-Za-z0-9_])(def|class|object|trait)[[:space:]]+$name([^A-Za-z0-9_]|\$)" \
      | sed -E 's/\$\{([^}]*)\}/" \1 "/g; s/"[^"]*"//g' \
      | grep -c -w -F -e "$name" || true)
  [[ "$refs" -gt 0 ]] || echo "$name" >>/tmp/uncalled_def_hits.txt
done </tmp/new_defs.txt
if [[ -s /tmp/uncalled_def_hits.txt ]]; then
  echo "[precommit] FAIL: new public def/class/object/trait with no caller in"
  echo "[precommit] src/main/scala or perfbench/src — call it from a product path or"
  echo "[precommit] a registry query; a test-only reference implementation belongs"
  echo "[precommit] under src/test:"
  sort -u /tmp/uncalled_def_hits.txt
  exit 1
fi

# No SQL function without a SQL caller: twelve session-injected functions
# once had no caller but their own spec, because library code builds each
# expression as a Column and a name inside a string is invisible to the
# gate above. An added `FunctionIdentifier("name")` anywhere under
# src/main/scala must be named in a string passed to `expr(`,
# `call_function(` or `.sql(` in src/main/scala or perfbench/src.
git diff --cached -U0 -- src/main/scala | grep -E '^\+' | grep -vE '^\+\+\+' \
  | grep -oE 'FunctionIdentifier\("[^"]+"' | sed -E 's/^FunctionIdentifier\("//; s/"$//' \
  | sort -u >/tmp/new_sql_fns.txt || true
: >/tmp/uncalled_sql_fn_hits.txt
if [[ -s /tmp/new_sql_fns.txt ]]; then
  git grep --cached -l -E '(expr|call_function|\.sql)\(' -- src/main/scala perfbench/src \
    | while read -r f; do
        git show ":$f" | perl -0777 -ne 'while (/(?:\bexpr|\bcall_function|\.sql)\(\s*[sf]?(?:"""(.*?)"""|"((?:[^"\\\n]|\\.)*)")/gs) { print((defined $1 ? $1 : $2), "\n") }'
      done >/tmp/sql_call_strings.txt
  while read -r fn; do
    grep -q -w -F -e "$fn" /tmp/sql_call_strings.txt || echo "$fn" >>/tmp/uncalled_sql_fn_hits.txt
  done </tmp/new_sql_fns.txt
fi
if [[ -s /tmp/uncalled_sql_fn_hits.txt ]]; then
  echo "[precommit] FAIL: new SQL function with no caller — name it in a string"
  echo "[precommit] passed to expr(, call_function( or .sql( in src/main/scala or"
  echo "[precommit] perfbench/src, or build the expression as a Column instead:"
  cat /tmp/uncalled_sql_fn_hits.txt
  exit 1
fi

if git diff --cached --name-only | grep -q '^src/.*\.scala$'; then
  echo "[precommit] staged Scala sources detected - running sbt compile + test"
  sbt -batch 'set Test / testOptions += Tests.Argument("-oI")' compile test

  # Full-suite oracle gate at sf0.001 (skip: GRAFT_SKIP_ORACLE=1). Round 6
  # shipped 3 silently-erroring queries because nothing between "sbt test
  # green" and the driver's per-round compare executed the query suite
  # end-to-end; this runs every query + the DuckDB compare and fails red
  # on a throw (_failed.json non-empty) or a value mismatch.
  if [[ "${GRAFT_SKIP_ORACLE:-0}" != "1" ]]; then
    # Oracle corpus location: override with GRAFT_ORACLE_SF_DIR on
    # checkouts without the default testdata layout.
    SF_DIR="${GRAFT_ORACLE_SF_DIR:-/root/testdata/sf0.001}"
    if [[ ! -d "$SF_DIR" ]]; then
      echo "[precommit] FAIL: oracle corpus not found at $SF_DIR"
      echo "[precommit] set GRAFT_ORACLE_SF_DIR=<sf dir> or GRAFT_SKIP_ORACLE=1 to skip"
      exit 1
    fi
    echo "[precommit] running graft.Verify + oracle compare at $SF_DIR"
    VOUT=$(mktemp -d /tmp/graft_verify.XXXXXX)
    trap 'rm -rf "$VOUT"' EXIT
    sbt -batch "runMain graft.Verify $SF_DIR $VOUT"
    if [[ "$(cat "$VOUT/_failed.json" 2>/dev/null || echo missing)" != "{}" ]]; then
      echo "[precommit] FAIL: verify failure manifest non-empty or missing"
      echo "[precommit] (GRAFT_SKIP_ORACLE=1 skips this gate entirely):"
      cat "$VOUT/_failed.json" 2>/dev/null || true
      exit 1
    fi
    python3 tools/check_oracle.py "$SF_DIR" "$VOUT"

    # Daily-ETL gate: the registry oracle never runs the product's daily
    # path (stage, dedup, MERGE, counts, retention) the way a deployment
    # does; perfbench's etl_daily replays one such day in DuckDB. An
    # every-day NPE in the partition-scoped MERGE once reached the
    # benchmark with every gate above green.
    if git diff --cached --name-only \
        | grep -qE '^src/main/scala/graft/(operators/Merge\.scala|pipeline/|streaming/)'; then
      echo "[precommit] running one perfbench etl_daily day (seed 1)"
      ETL_JSON=$(python3 perfbench/run.py --workload etl_daily --seed 1 \
        --seconds 1 --trace 0 | tail -n 1 || true)
      if ! python3 -c 'import json, sys
r = json.loads(sys.argv[1])
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)' "$ETL_JSON"; then
        echo "[precommit] FAIL: etl_daily day not correct or failed: $ETL_JSON"
        exit 1
      fi
    fi
  else
    echo "[precommit] GRAFT_SKIP_ORACLE=1 - skipping oracle and ETL gates"
  fi
else
  echo "[precommit] no staged Scala sources - skipping build gate"
fi
