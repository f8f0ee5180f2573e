"""Build file of the benchmark: compiles graft (src/main) and the
benchmark (perfbench/src) from source with the Scala compiler that ships
in Spark's jars directory, so no build tool or network is needed.

Outputs are keyed by a hash of every source file, so a changed tree is
never measured with a stale build:

    <out>/graft-<hash>   graft classes + resources
    <out>/bench-<hash>   benchmark classes (hash includes graft's)
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess


def spark_jars(root):
    """Spark's jars directory: $SPARK_HOME/jars, else the directory graft's
    build.sbt compiles against (its `unmanagedBase`). It must hold the
    Scala compiler, which Spark's distribution ships."""
    root = pathlib.Path(root)
    if os.environ.get("SPARK_HOME"):
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = pathlib.Path(m.group(1))
    if not list(jars.glob("scala-compiler-*.jar")) or not list(jars.glob("spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def _sources(root):
    graft = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    resources = sorted(p for p in (root / "src" / "main" / "resources").rglob("*") if p.is_file())
    return graft, bench, resources


def _hash(root, files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _scalac(jars, classpath, dest, files, log):
    dest.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest), "-cp", classpath] + [str(f) for f in files]
    with open(log, "ab") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit(f"scalac failed ({rc}); see {log}")


def _compiled(out, name, key, compile_into):
    """Return out/<name>-<key>, compiling into a temp dir first if absent."""
    dest = out / f"{name}-{key}"
    if (dest / "ok").exists():
        return dest
    tmp = out / f"{name}-{key}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    compile_into(tmp, out / f"{name}-{key}.log")
    (tmp / "ok").touch()
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    return dest


def build(root, out):
    """Compile what changed; returns (graft_classes, bench_classes)."""
    root, out = pathlib.Path(root), pathlib.Path(out)
    out.mkdir(parents=True, exist_ok=True)
    graft, bench, resources = _sources(root)
    if not graft or not bench:
        raise SystemExit("graft sources (src/main/scala) or benchmark sources missing")
    jars = spark_jars(root)
    res = root / "src" / "main" / "resources"

    def graft_into(tmp, log):
        _scalac(jars, f"{jars}/*", tmp, graft, log)
        for p in resources:
            target = tmp / p.relative_to(res)
            target.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(p, target)

    gkey = _hash(root, graft + resources)
    graft_cls = _compiled(out, "graft", gkey, graft_into)
    bkey = _hash(root, bench + [root / "perfbench" / "build.py"]) + gkey
    bench_cls = _compiled(out, "bench", bkey,
                          lambda tmp, log: _scalac(jars, f"{graft_cls}:{jars}/*", tmp, bench, log))
    return graft_cls, bench_cls
