"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's own (linkbench/src) with the Scala compiler that
ships in Spark's jar directory, without sbt or any download.

    python3 linkbench/build.py      # prints the classes directory

Classes land in linkbench/.build/<source hash>/classes, so an unchanged tree
is compiled once and reused by every later run.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SCALA = "2.13.17"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else that of the first Spark
    installation on PATH that ships the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        homes = [Path(os.environ["SPARK_HOME"])]
    else:
        homes = [Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
                 if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if (home / "jars" / f"scala-compiler-{SCALA}.jar").is_file():
            return home / "jars"
    raise SystemExit(f"linkbench: no Spark with the Scala {SCALA} compiler found; set SPARK_HOME")


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit(f"linkbench: no engine sources under {ROOT / 'src/main/scala'}")
    return engine + sorted((BENCH / "src").rglob("*.scala"))


def build() -> Path:
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256(SCALA.encode())
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    out = BENCH / ".build" / digest.hexdigest()[:16]
    if (out / "ok").is_file():
        return out / "classes"
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    (tmp / "tmp").mkdir()
    (tmp / "args").write_text("\n".join(str(f) for f in srcs) + "\n")
    compiler = os.pathsep.join(str(jars / f"scala-{p}-{SCALA}.jar") for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp / 'tmp'}", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(tmp / "classes"), f"@{tmp / 'args'}"]
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr)
    except subprocess.CalledProcessError as e:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"linkbench: compilation failed ({e.returncode})")
    shutil.rmtree(tmp / "tmp")
    (tmp / "ok").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out / "classes"


if __name__ == "__main__":
    print(build())
