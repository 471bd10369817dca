"""Build file of the benchmark package.

Compiles the program (``src/main/scala`` of the repository) together with
the benchmark's own sources (``perfbench/src``) into one class directory,
with the Scala compiler that ships among Spark's jars. The build is skipped
when a stamp of every input file matches the last build.

    python3 perfbench/build.py [OUT_DIR]      # default: .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the root build names."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_HOME)")
    return Path(m.group(1))


def jar_classpath():
    return os.pathsep.join(str(j) for j in sorted(spark_jars().glob("*.jar")))


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    return main + bench


def build(out_dir):
    """Compile if needed; return the run classpath."""
    out_dir = Path(out_dir)
    classes = out_dir / "classes"
    srcs = sources()
    resources = sorted((ROOT / "src" / "main" / "resources").rglob("*"))
    h = hashlib.sha256()
    for f in srcs + [r for r in resources if r.is_file()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    stamp_file = out_dir / "build.stamp"
    cp = jar_classpath()
    if not (stamp_file.exists() and stamp_file.read_text() == stamp):
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir(parents=True)
        args = out_dir / "scalac.args"
        args.write_text("\n".join(str(s) for s in srcs) + "\n")
        rc = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", str(classes), "-classpath", cp, "@" + str(args)],
            stdout=sys.stderr).returncode
        if rc != 0:
            raise SystemExit(f"perfbench: compile failed ({rc})")
        for r in resources:
            if r.is_file():
                dest = classes / r.relative_to(ROOT / "src" / "main" / "resources")
                dest.parent.mkdir(parents=True, exist_ok=True)
                shutil.copy(r, dest)
        stamp_file.write_text(stamp)
    return str(classes) + os.pathsep + cp


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build")
