"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the harness (`perfbench/harness`) with the Scala compiler that ships in the
Spark distribution, into a build directory keyed by a digest of every
source file, so an unchanged checkout is compiled once.

    python3 perfbench/build.py          # prints the classes directory

The Spark distribution is found through SPARK_HOME, else through
`spark-submit` on PATH. The build directory is CARGO_TARGET_DIR if set,
else `.bench_build` at the checkout root.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent


class BuildError(RuntimeError):
    pass


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found under {main}")
    prog = sorted(main.rglob("*.scala"))
    harness = sorted((HERE / "harness").glob("*.scala"))
    if not prog or not harness:
        raise BuildError("no Scala sources to build")
    return prog, harness


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _scalac(jars, out, classpath, files, log):
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / "sources.args"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", classpath, f"@{argfile}"]
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                            timeout=800).returncode
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log}")


def _compiled(out, key, compile_):
    """Compile into `out` unless a finished build with `key` is there."""
    done = out / "BUILT"
    if done.exists() and done.read_text() == key:
        return
    if out.exists():
        shutil.rmtree(out)
    compile_(out / "classes")
    done.write_text(key)


def build():
    """Return the classpath (harness classes, program classes, Spark jars)
    for the current sources, compiling what changed, and the source
    digest."""
    jars = spark_jars()
    prog, harness = sources()
    pkey = digest(prog)
    hkey = digest(prog + harness)
    prog_dir = build_dir() / f"program-{pkey}"
    harness_dir = build_dir() / f"harness-{hkey}"
    prog_out, harness_out = prog_dir / "classes", harness_dir / "classes"
    _compiled(prog_dir, pkey, lambda out: _scalac(
        jars, out, f"{jars}/*", prog, prog_dir / "build.log"))
    _compiled(harness_dir, hkey, lambda out: _scalac(
        jars, out, f"{prog_out}:{jars}/*", harness, harness_dir / "build.log"))
    return [str(harness_out), str(prog_out), f"{jars}/*"], hkey


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(os.pathsep.join(cp))
