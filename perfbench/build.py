"""Build file of the benchmark: compiles the program under test
(`src/main/scala`) together with the benchmark's own sources
(`perfbench/src`) into one class directory, with the Scala compiler and
Spark jars that ship with Spark (found through SPARK_HOME, or through
`spark-submit` on PATH).

The output directory is keyed by a digest of every source file, so an
unchanged tree is compiled once. Usage: `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"


class BuildError(Exception):
    pass


def out_dir():
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home, "bin", "java") if home else shutil.which("java")
    if not exe or not pathlib.Path(exe).exists():
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return str(exe)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "", "jars")
    if not home or not jars.is_dir():
        raise BuildError("no Spark jars: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC.relative_to(ROOT)}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Returns (class directory, source digest), compiling if needed."""
    files = sources()
    jars = spark_jars()
    dig = digest(files)
    out = out_dir()
    dest = out / f"classes-{dig[:16]}"
    if (dest / "BUILT").exists():
        return dest, dig
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / f"classes-tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    compiler = [glob.glob(str(jars / f"scala-{n}-2.13*.jar")) for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"Scala 2.13 compiler jars not found in {jars}")
    args = tmp / "scalac.args"
    args.write_text("\n".join(["-nowarn", "-d", str(tmp), "-cp", str(jars / "*")] + [str(f) for f in files]))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main", f"@{args}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    args.unlink()
    (tmp / "BUILT").write_text(dig)
    for old in out.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, dest)
    return dest, dig


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
