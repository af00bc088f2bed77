#!/usr/bin/env bash
# Count the processes a benchmark run starts, per command and per table
# root: runs perfbench/run.py with a JFR recording of jdk.ProcessStart in
# every JVM it launches (JAVA_TOOL_OPTIONS; perfbench/ itself is not
# touched), then reads the recordings back.
#
#   tools/fork_census.sh [workload] [seed] [extra run.py args...]
#   tools/fork_census.sh monitor_loop 2
#
# A table root is the first directory under the run's `out/` a command
# names (job_data, job_errors, alert_state, deliveries, store1,
# checkpoint1, ...). Run from the repository root. The run's own result
# lines are written to <census dir>/run.txt.
set -euo pipefail

workload="${1:-monitor_loop}"
seed="${2:-2}"
shift $(( $# < 2 ? $# : 2 ))

census="$(mktemp -d "${TMPDIR:-/tmp}/fork-census.XXXXXX")"
mkdir -p "$census/jfr"
cat > "$census/process-starts.jfc" <<'EOF'
<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="process starts">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
EOF

# a directory as the filename: each JVM writes its own recording there
JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:+$JAVA_TOOL_OPTIONS }-XX:StartFlightRecording=filename=$census/jfr,settings=$census/process-starts.jfc" \
  python3 perfbench/run.py --workload "$workload" --seed "$seed" "$@" > "$census/run.txt"

for f in "$census"/jfr/*.jfr; do
  jfr print --json --events jdk.ProcessStart "$f" > "${f%.jfr}.json"
done

python3 - "$census" <<'EOF'
import collections, glob, json, os, re, sys

census = sys.argv[1]
commands = []
for f in sorted(glob.glob(os.path.join(census, "jfr", "*.json"))):
    events = json.load(open(f))["recording"]["events"]
    commands += [e["values"]["command"] or "" for e in events]
by_command = collections.Counter(os.path.basename(c.split(" ", 1)[0]) for c in commands)
root_re = re.compile(r"/out/([^/\s]+)")
by_root = collections.Counter()
for c in commands:
    roots = set(root_re.findall(c))
    by_root.update(roots if roots else ["(no run path)"])
print(f"process starts: {len(commands)}")
print("per command:")
for k, n in by_command.most_common():
    print(f"  {n:6d}  {k}")
print("per table root:")
for k, n in sorted(by_root.items(), key=lambda kv: (-kv[1], kv[0])):
    print(f"  {n:6d}  {k}")
print(f"recordings and the run's output: {census}")
EOF
