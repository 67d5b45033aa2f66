"""Build file of the benchmark.

Compiles the program (``src/main/scala``) and the benchmark
(``perfbench/src/main/scala``) with the Scala compiler that ships in the Spark
distribution's ``jars`` directory, into ``perfbench/.build/<stamp>/``. The
stamp hashes every source file, so an unchanged tree is built once.

    python3 perfbench/build.py             # build, print the class path
    python3 perfbench/build.py --selftest  # build and run the self-tests
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src" / "main" / "scala"
TEST_SRC = BENCH / "src" / "test" / "scala"
OUT = BENCH / ".build"

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit; the same list as the root build's javaOptions.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
    )
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if list(c.glob("scala-compiler-*.jar")) and list(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources(root: Path) -> list:
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def stamp(groups) -> str:
    h = hashlib.sha256()
    for files in groups:
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars: Path, classpath: list, out: Path, files: list) -> None:
    out.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(p) for p in classpath] + [str(jars / "*")])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp] + [str(f) for f in files]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build(with_tests: bool = False) -> dict:
    """Builds what is missing and returns the class path entries."""
    if not PROGRAM_SRC.is_dir() or not sources(PROGRAM_SRC):
        raise BuildError(f"program sources not found under {PROGRAM_SRC.relative_to(ROOT)}")
    if not sources(BENCH_SRC):
        raise BuildError("benchmark sources not found")
    jars = spark_jars()
    program, bench, tests = sources(PROGRAM_SRC), sources(BENCH_SRC), sources(TEST_SRC)
    target = OUT / stamp([program, bench])
    done = target / "done"
    if not done.exists():
        tmp = OUT / f"tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        scalac(jars, [], tmp / "program", program)
        scalac(jars, [tmp / "program"], tmp / "bench", bench)
        (tmp / "done").write_text("ok\n")
        shutil.rmtree(target, ignore_errors=True)
        tmp.rename(target)
    cp = {"jars": jars, "program": target / "program", "bench": target / "bench"}
    if with_tests:
        test_out = target / ("test-" + stamp([tests]))
        if not (test_out / "done").exists():
            shutil.rmtree(test_out, ignore_errors=True)
            scalac(jars, [cp["program"], cp["bench"]], test_out, tests)
            (test_out / "done").write_text("ok\n")
        cp["test"] = test_out
    return cp


def classpath(cp: dict, with_tests: bool = False) -> str:
    parts = ([cp["test"]] if with_tests else []) + [cp["bench"], cp["program"], cp["jars"] / "*"]
    return os.pathsep.join(str(p) for p in parts)


def main() -> int:
    selftest = "--selftest" in sys.argv[1:]
    try:
        cp = build(with_tests=selftest)
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if not selftest:
        print(classpath(cp))
        return 0
    cmd = ["java", "-Xmx1g"] + ADD_OPENS + ["-cp", classpath(cp, with_tests=True),
                                          "perfbench.SelfTest", str(ROOT / "BENCHMARK.json"),
                                          str(OUT / "selftest")]
    return subprocess.run(cmd, cwd=ROOT).returncode


if __name__ == "__main__":
    sys.exit(main())
