#!/usr/bin/env bash
# Build file of the benchmark. Run from the repository root:
#
#   bash perfbench/build.sh
#
# Builds the engine with the repository's own sbt build (`sbt compile`,
# which writes target/ as usual) and takes the runtime classpath from it;
# then compiles only the benchmark harness, with the Scala compiler that
# ships in Spark's jar directory ($SPARK_HOME/jars), into .bench_build/.
# Nothing is fetched. Stamps over the source bytes skip a step when
# nothing it reads changed.
set -euo pipefail

out=.bench_build
if [ ! -f build.sbt ] || [ ! -f perfbench/Harness.scala ]; then
  echo "build.sh: run from the repository root (build.sbt missing)" >&2
  exit 2
fi
if [ -z "${SPARK_HOME:-}" ] || [ ! -d "$SPARK_HOME/jars" ]; then
  echo "build.sh: SPARK_HOME must name a Spark 4.1 install with jars/" >&2
  exit 2
fi
mkdir -p "$out"

# one stamp per output: a harness edit does not rebuild the engine
fingerprint() {
  (find "$@" -type f -print0 | sort -z | xargs -0 sha256sum
    echo "$SPARK_HOME") | sha256sum | cut -c1-16
}

engine=$(fingerprint src/main build.sbt $(find project -maxdepth 1 -type f))
if [ "$(cat "$out/engine.stamp" 2>/dev/null)" != "$engine" ]; then
  rm -f "$out/engine.stamp" "$out/bench.stamp"
  # the classpath is the last line sbt prints; sbt compiles first. Offline:
  # every dependency resolves from the local cache or nothing is built.
  COURSIER_MODE=offline sbt -batch -Dsbt.offline=true \
    "export Runtime/fullClasspath" > "$out/sbt.out" 2> "$out/sbt.err" ||
    { tail -30 "$out/sbt.out" "$out/sbt.err" >&2; exit 1; }
  tail -1 "$out/sbt.out" > "$out/engine.classpath"
  echo "$engine" > "$out/engine.stamp"
fi

bench=$(echo "$engine $(fingerprint perfbench/Harness.scala)")
if [ "$(cat "$out/bench.stamp" 2>/dev/null)" != "$bench" ]; then
  rm -rf "$out/bench" "$out/bench.stamp"
  mkdir -p "$out/bench" "$out/tmp"
  java -XX:-UsePerfData -Xss8m -Xmx2g -Djava.io.tmpdir="$out/tmp" \
    -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main -nowarn \
    -d "$out/bench" -classpath "$(cat "$out/engine.classpath")" \
    perfbench/Harness.scala
  rm -rf "$out/tmp"
  echo "$(cd "$out" && pwd)/bench:$(cat "$out/engine.classpath")" \
    > "$out/classpath"
  echo "$bench" > "$out/bench.stamp"
fi
