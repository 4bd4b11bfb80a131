"""Build file of the graft benchmark.

Compiles the graft engine (`src/main/scala` of the checkout) and the
benchmark (`graftbench/src`) with the Scala compiler that ships in Spark's
`jars` directory (`$SPARK_HOME/jars`), so no build tool or network is
needed. Outputs go to `.bench_build/` at the checkout root, keyed by a
digest of the sources: an unchanged tree is built once.

    python3 graftbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark install with a jars/ directory")
    return pathlib.Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else (shutil.which("java") or "java")


def digest(*dirs):
    h = hashlib.sha256()
    for d in dirs:
        for f in sorted(p for p in d.rglob("*") if p.is_file()):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(sources, classpath, dest):
    """Compile `sources` into `dest` (built in a temp dir, renamed on success)."""
    tmp = dest.with_name(dest.name + f".tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "scalac.args"
    args.write_text("\n".join(["-nowarn", "-d", str(tmp), "-cp", classpath]
                              + [str(s) for s in sources]) + "\n")
    cp = str(spark_jars() / "*")
    r = subprocess.run([java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                        "scala.tools.nsc.Main", f"@{args}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    args.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    return tmp


def build():
    """Build what is missing; return the runtime classpath."""
    if not ENGINE_SRC.is_dir() or not any(ENGINE_SRC.rglob("*.scala")):
        raise BuildError(f"no engine sources under {ENGINE_SRC.relative_to(ROOT)}")
    jars = spark_jars()
    OUT.mkdir(exist_ok=True)
    engine = OUT / f"engine-{digest(ENGINE_SRC, ENGINE_RES)}"
    if not engine.is_dir():
        print(f"[build] compiling engine into {engine.name}", file=sys.stderr)
        tmp = scalac(sorted(ENGINE_SRC.rglob("*.scala")), str(jars / "*"), engine)
        if ENGINE_RES.is_dir():
            shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
        tmp.rename(engine)
    bench = OUT / f"bench-{engine.name}-{digest(BENCH_SRC)}"
    if not bench.is_dir():
        print(f"[build] compiling benchmark into {bench.name}", file=sys.stderr)
        tmp = scalac(sorted(BENCH_SRC.rglob("*.scala")),
                     os.pathsep.join([str(engine), str(jars / "*")]), bench)
        tmp.rename(bench)
    # drop outputs of older source trees
    for old in OUT.glob("engine-*"):
        if old != engine and not old.name.count(".tmp-"):
            shutil.rmtree(old, ignore_errors=True)
    for old in OUT.glob("bench-*"):
        if old != bench and not old.name.count(".tmp-"):
            shutil.rmtree(old, ignore_errors=True)
    return os.pathsep.join([str(bench), str(engine), str(jars / "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
