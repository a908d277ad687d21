"""Build file of the benchmark: compiles the program from the checkout's
`src/main/scala` and the benchmark's own `perfbench/src` with the Scala
compiler that ships in the Spark distribution's `jars/`, no build server.

Output goes to `perfbench/.work/build/<key>/{program,bench}`, where the
key hashes every source file and the compiler jar, so an unchanged tree
is compiled once and a changed one never runs stale classes.

    python3 perfbench/build.py          # prints the class path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
def _spark_jars():
    """`$SPARK_HOME/jars`, or the jars beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or "", "jars")


SPARK_JARS = _spark_jars()
SCALAC_JARS = ["scala-compiler", "scala-library", "scala-reflect"]


class BuildError(Exception):
    pass


def _sources(folder):
    return sorted(glob.glob(os.path.join(folder, "**", "*.scala"), recursive=True))


def _compiler_cp():
    jars = []
    for name in SCALAC_JARS:
        found = sorted(glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13*.jar")))
        if not found:
            raise BuildError(f"no {name} jar under {SPARK_JARS}")
        jars.append(found[-1])
    return jars


def _scalac(sources, out, classpath):
    os.makedirs(out, exist_ok=True)
    listing = out + ".sources"
    with open(listing, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}.tmp",
           "-cp", ":".join(_compiler_cp()), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + listing]
    os.makedirs(out + ".tmp", exist_ok=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    shutil.rmtree(out + ".tmp", ignore_errors=True)
    os.remove(listing)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Compile if needed; return the run-time class path entries."""
    prog_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = _sources(os.path.join(HERE, "src"))
    if not prog_src:
        raise BuildError("no program sources under src/main/scala")
    h = hashlib.sha256()
    for path in _compiler_cp() + prog_src + bench_src:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    base = os.path.join(HERE, ".work", "build")
    key_dir = os.path.join(base, h.hexdigest()[:16])
    prog, bench = os.path.join(key_dir, "program"), os.path.join(key_dir, "bench")
    spark_cp = os.path.join(SPARK_JARS, "*")
    if not os.path.exists(os.path.join(key_dir, "DONE")):
        shutil.rmtree(base, ignore_errors=True)  # older trees are stale
        _scalac(prog_src, prog, spark_cp)
        _scalac(bench_src, bench, prog + ":" + spark_cp)
        open(os.path.join(key_dir, "DONE"), "w").close()
    return [bench, prog, spark_cp]


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
