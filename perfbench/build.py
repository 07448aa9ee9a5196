"""Build file of the benchmark: compiles the engine's main sources and the
benchmark driver with the Scala compiler that ships in the Spark jars.

The engine is compiled from the checkout's `src/main` as it stands. Its
sbt build is not run, so the benchmark needs neither sbt nor a network;
only the jar directory (`unmanagedBase`) and the JVM options
(`jdk17AddOpens`, the `-Dspark.*` flags) are read from `build.sbt`.
`SPARK_JARS` overrides the jar directory. The output is cached under
`<out>/` keyed on every compiled source byte.

Usage: python3 perfbench/build.py [out_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _build_sbt(root):
    with open(os.path.join(root, "build.sbt")) as f:
        return f.read()


def classpath(root):
    """The Spark jars the engine's build compiles against."""
    jars = os.environ.get("SPARK_JARS")
    if not jars:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt(root))
        if not m:
            raise SystemExit("build: no unmanagedBase in build.sbt; set SPARK_JARS")
        jars = m.group(1)
    return os.path.join(jars, "*")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return engine, bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def engine_java_options(root):
    """The JVM options the engine's build passes to its JVMs: the
    `--add-opens` packages of `jdk17AddOpens` and the `-Dspark.*` flags."""
    sbt = _build_sbt(root)
    m = re.search(r"jdk17AddOpens\s*=\s*Seq\((.*?)\)", sbt, re.S)
    if not m:
        raise SystemExit("build: no jdk17AddOpens in build.sbt")
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in re.findall(r'"([^"]+)"', m.group(1))]
    return opens + re.findall(r'"(-Dspark\.[^"$]+)"', sbt)


def scalac(root, out, files, extra_cp=None):
    os.makedirs(out, exist_ok=True)
    cp = classpath(root) + (os.pathsep + extra_cp if extra_cp else "")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(root),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-cp", cp, "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({len(files)} files into {out})")


def build(root, out_root):
    """Compile what changed; return (build key, classpath entries).

    The engine is cached on its own sources, the driver on both, so a
    change to the driver alone does not recompile the engine.
    """
    engine, bench = sources(root)
    if not engine:
        raise SystemExit(f"build: no engine sources under {root}/src/main/scala")
    ekey, key = digest(engine), digest(engine + bench)
    eng, drv = os.path.join(out_root, "engine-" + ekey), os.path.join(out_root, "bench-" + key)
    for out, files, extra in ((eng, engine, None), (drv, bench, eng)):
        if not os.path.exists(os.path.join(out, "ok")):
            shutil.rmtree(out, ignore_errors=True)
            scalac(root, out, files, extra_cp=extra)
            open(os.path.join(out, "ok"), "w").close()
    return key, [drv, eng]


if __name__ == "__main__":
    print(build(os.getcwd(), sys.argv[1] if len(sys.argv) > 1 else ".bench_build/classes"))
