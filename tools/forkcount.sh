#!/usr/bin/env bash
# Count the `chmod` processes a command forks, grouped by directory.
#
#   tools/forkcount.sh <cmd> [args...]
#
# Runs <cmd> with a logging `chmod` shim first on PATH, then prints the
# total and one line per directory of the chmod'ed paths, most forks
# first. Without Hadoop's native library, Hadoop's stock local
# filesystem forks `chmod` for every permission it sets (file creates,
# mkdirs), so this counts those forks. Run-unique parts of a directory
# (task attempt ids, UUIDs, numbered versions) are folded to `*` so the
# same kind of directory groups together. The summary goes to stderr;
# the command's stdout is left as it is, and its exit status is kept.
# With FORKCOUNT_LOG=<file>, the raw log (one chmod'ed path a line) is
# kept there.
#
# Example (forks of one put_ingest run; divide by its PUT count):
#   tools/forkcount.sh python3 perfbench/run.py --workload put_ingest \
#       --seed 1 --seconds 20 --trace 0
set -u
[ $# -gt 0 ] || { echo "usage: $0 <cmd> [args...]" >&2; exit 2; }
real=$(command -v chmod) || { echo "forkcount: no chmod on PATH" >&2; exit 2; }
shim=$(mktemp -d "${TMPDIR:-/tmp}/forkcount.XXXXXX")
trap 'rm -rf "$shim"' EXIT
log="$shim/forks.log"
: > "$log"
cat > "$shim/chmod" <<EOF
#!/bin/sh
# one line per call: the mode, then the path (chmod's last argument)
for last in "\$@"; do :; done
printf '%s\n' "\$last" >> '$log'
exec '$real' "\$@"
EOF
"$real" +x "$shim/chmod"

PATH="$shim:$PATH" "$@"
rc=$?

{
  echo "forkcount: $(wc -l < "$log") chmod forks"
  sed -e 's#/[^/]*$##' \
      -e 's#attempt_[0-9A-Za-z_]*#attempt_*#g' \
      -e 's#[0-9a-f]\{8\}-[0-9a-f]\{4\}-[0-9a-f]\{4\}-[0-9a-f]\{4\}-[0-9a-f]\{12\}#*#g' \
      -e 's#/\([A-Za-z_.=-]*\)[0-9][0-9]*\([^/]*\)#/\1*\2#g' "$log" |
    sort | uniq -c | sort -rn
} >&2
[ -z "${FORKCOUNT_LOG:-}" ] || cp "$log" "$FORKCOUNT_LOG"
exit $rc
