#!/usr/bin/env bash
# Builds the benchmark: compiles graft's main sources (src/main/scala)
# together with the harness (perfbench/src) into .bench_build/perfbench,
# with the Scala compiler that ships among the Spark jars build.sbt
# declares as its unmanagedBase. build.sbt itself is not used or changed.
# A build whose sources are unchanged since the last one is skipped.
#
# Usage (from anywhere): bash perfbench/build.sh
# Writes: .bench_build/perfbench/{perfbench.jar,classpath,stamp}
set -euo pipefail
root="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
cd "$root"
if [[ ! -f build.sbt || ! -d src/main/scala ]]; then
  echo "perfbench/build.sh: $root holds no graft sources (build.sbt, src/main/scala)" >&2
  exit 2
fi
jars="$(sed -n 's/^unmanagedBase := file("\(.*\)")[[:space:]]*$/\1/p' build.sbt | head -n 1)"
jars="${jars:-${SPARK_HOME:-}/jars}"
if ! compgen -G "$jars/scala-compiler-*.jar" >/dev/null; then
  echo "perfbench/build.sh: no Scala compiler among the Spark jars in '$jars'" >&2
  exit 2
fi

out=.bench_build/perfbench
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort > "$out/sources"
stamp="$( (echo "$jars"; xargs -d '\n' sha1sum < "$out/sources") | sha1sum | cut -d' ' -f1)"
if [[ -f "$out/perfbench.jar" && -f "$out/stamp" && "$(cat "$out/stamp")" == "$stamp" ]]; then
  exit 0
fi

rm -rf "$out/classes" "$out/perfbench.jar" "$out/classes.jsa"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes" @"$out/sources"
# one jar, not a class directory: a class-data-sharing archive (see
# run.py) can only map classes from jars
jar cf "$out/perfbench.jar" -C "$out/classes" .
rm -rf "$out/classes"
echo "$jars" > "$out/classpath"
echo "$stamp" > "$out/stamp"
