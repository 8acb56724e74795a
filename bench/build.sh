#!/usr/bin/env bash
# Builds the benchmark: graft's main sources (src/main/scala) and the harness
# (bench/src) compiled together with the Scala compiler that ships in Spark's jars
# directory, into .bench_build/classes. A stamp of the sources skips an unchanged rebuild.
#
#   bash bench/build.sh <spark jars directory>
set -euo pipefail
jars="${1:?usage: build.sh <spark jars directory>}"
root="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
out="$root/.bench_build"

if [ ! -d "$root/src/main/scala" ]; then
  echo "build.sh: graft sources not found under $root/src/main/scala" >&2
  exit 2
fi
compgen -G "$jars/scala-compiler-*.jar" >/dev/null || {
  echo "build.sh: no scala-compiler jar in $jars" >&2
  exit 2
}

mapfile -t sources < <(find "$root/src/main/scala" "$root/bench/src" -name '*.scala' | sort)
stamp="$(cat "${sources[@]}" | sha256sum | cut -d' ' -f1)"
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi

rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes"
# -UsePerfData: no hsperfdata file in the system temp directory, outside the checkout
java -Xss16m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes" "${sources[@]}"
echo "$stamp" > "$out/classes.stamp"
