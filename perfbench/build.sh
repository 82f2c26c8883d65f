#!/usr/bin/env bash
# Builds the program (src/main/scala) and the benchmark harness
# (perfbench/scala) with the Scala compiler that ships in the Spark jar
# directory (build.sbt's unmanagedBase), without sbt. Run from the
# repository root:
#
#   bash perfbench/build.sh [OUT_DIR]      # default OUT_DIR: .bench_build
#
# Output: OUT_DIR/classes (program), OUT_DIR/bench (harness). A stamp of the
# sources' hash skips the compile when nothing changed.
set -euo pipefail

OUT="${1:-.bench_build}"
# the Spark jar directory: $SPARK_JARS, else the one build.sbt names
SPARK_JARS="${SPARK_JARS:-$(sed -n 's|^unmanagedBase := file("\(.*\)").*|\1|p' build.sbt 2>/dev/null)}"

if [ ! -d src/main/scala/graft ] || [ ! -d perfbench/scala ]; then
  echo "build.sh: run from the repository root (src/main/scala/graft not found)" >&2
  exit 2
fi
if ! ls "$SPARK_JARS"/scala-compiler-*.jar >/dev/null 2>&1; then
  echo "build.sh: no scala-compiler jar in $SPARK_JARS" >&2
  exit 2
fi

mapfile -t PROGRAM < <(find src/main/scala -name '*.scala' | LC_ALL=C sort)
mapfile -t HARNESS < <(find perfbench/scala -name '*.scala' | LC_ALL=C sort)
STAMP="$( (cat "${PROGRAM[@]}" "${HARNESS[@]}"; ls "$SPARK_JARS") | sha256sum | cut -c1-32)"
if [ -f "$OUT/stamp" ] && [ "$(cat "$OUT/stamp")" = "$STAMP" ]; then
  exit 0
fi

rm -rf "$OUT/classes" "$OUT/bench" "$OUT/stamp"
mkdir -p "$OUT/classes" "$OUT/bench"
JARS="$(ls "$SPARK_JARS"/*.jar | tr '\n' ':')"
scalac() {
  # the compiler runs from the Spark jars; -classpath keeps "." off the
  # compile classpath
  java -Xmx2g -Xss8m -cp "$SPARK_JARS/*" scala.tools.nsc.Main -nowarn "$@"
}
scalac -classpath "$JARS" -d "$OUT/classes" "${PROGRAM[@]}"
scalac -classpath "$JARS$OUT/classes" -d "$OUT/bench" "${HARNESS[@]}"
echo "$STAMP" > "$OUT/stamp"
