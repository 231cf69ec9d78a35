#!/usr/bin/env bash
# Builds graft and the benchmark driver into one class directory.
#
#   bash perfbench/build.sh OUT JARS   (JARS: the Spark jars directory)
#
# Compiles src/main/scala (the program, unchanged) together with
# perfbench/src (the driver) with the Scala compiler that ships in the
# Spark distribution, against the Spark jars — the same classpath the
# program's sbt build uses (its unmanagedBase). The result
# lands in OUT/classes with the program's resources (the `ace` source
# registration) copied beside it.
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(cd "$here/.." && pwd)"
out="${1:?usage: build.sh OUT JARS}"
jars="${2:?usage: build.sh OUT JARS}"

test -d "$root/src/main/scala" || {
  echo "build.sh: no program sources at $root/src/main/scala" >&2; exit 1; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp/classes"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp/classes" -classpath "$jars/*" @"$out.tmp/sources.txt"
cp -R "$root/src/main/resources/." "$out.tmp/classes/"
rm -rf "$out"
mv "$out.tmp" "$out"
