"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala` of the checkout) together with
the harness (`kgbench/src`) with the Scala compiler that ships in Spark's jar
directory, and packs the classes into one application jar for spark-submit.
Outputs go under $CARGO_TARGET_DIR (default `.bench_build`) of the checkout;
a stamp over the sources skips the compile when nothing changed.

    python3 kgbench/build.py        # prints the jar path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(RuntimeError):
    pass


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("neither SPARK_HOME nor spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError(f"no jars directory under SPARK_HOME={home}")
    return home


def build_dir() -> str:
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT if not os.path.isabs(base) else "", base, "kgbench")


def sources() -> list:
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "app", "Main.scala")):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    out = []
    for top in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files: list) -> str:
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def jar_path() -> str:
    return os.path.join(build_dir(), "kgbench.jar")


def ensure_built(log=sys.stderr) -> str:
    """Compile and pack if the sources changed; return the jar path."""
    files = sources()
    home = spark_home()
    want = stamp(files)
    out = build_dir()
    stamp_file = os.path.join(out, "stamp")
    jar = jar_path()
    if os.path.isfile(jar) and os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return jar
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(home, "jars", "*"),
           "scala.tools.nsc.Main", "-usejavacp", *SCALAC_OPTS, "-d", classes, *files]
    print(f"[kgbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\r\n\r\n")
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, jar)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return jar


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[kgbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
