"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's own sources with the Scala compiler that ships among the
Spark jars, into the build directory. Rebuilds only when a source changed.

    python3 perfbench/build.py            # prints the classpath to run with
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The Spark jars directory: the one build.sbt names as unmanagedBase,
    else $SPARK_HOME/jars."""
    cands = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("spark-core") for f in os.listdir(c)):
            return c
    raise SystemExit("perfbench: no Spark jars directory found (build.sbt unmanagedBase or SPARK_HOME)")


def sources(d, ext=".scala"):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, srcs, out, classpath):
    comp = [os.path.join(jars, f) for f in sorted(os.listdir(jars))
            if re.match(r"scala-(compiler|library|reflect)_?.*\.jar$", f)]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compiles what changed; returns the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    res = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise SystemExit("perfbench: no program sources at src/main/scala")
    jars = spark_jars()
    jar_cp = ":".join(os.path.join(jars, f) for f in sorted(os.listdir(jars)) if f.endswith(".jar"))
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    main_out = os.path.join(bd, "classes")
    bench_out = os.path.join(bd, "bench")

    res_files = sources(res, ext="") if os.path.isdir(res) else []
    main_stamp = digest(sources(main_src) + res_files, jars)
    stamp_file = os.path.join(bd, "classes.stamp")
    if not (os.path.isdir(main_out) and os.path.exists(stamp_file)
            and open(stamp_file).read() == main_stamp):
        print("perfbench: compiling program sources", file=sys.stderr)
        scalac(jars, sources(main_src), main_out, jar_cp)
        # resources (META-INF/services registers the scan formats)
        if os.path.isdir(res):
            shutil.copytree(res, main_out, dirs_exist_ok=True)
        with open(stamp_file, "w") as f:
            f.write(main_stamp)

    bench_src = sources(os.path.join(HERE, "src"))
    bench_stamp = digest(bench_src, main_stamp)
    bstamp_file = os.path.join(bd, "bench.stamp")
    if not (os.path.isdir(bench_out) and os.path.exists(bstamp_file)
            and open(bstamp_file).read() == bench_stamp):
        print("perfbench: compiling benchmark sources", file=sys.stderr)
        scalac(jars, bench_src, bench_out, main_out + ":" + jar_cp)
        with open(bstamp_file, "w") as f:
            f.write(bench_stamp)
    return ":".join([bench_out, main_out, jar_cp]), main_stamp


if __name__ == "__main__":
    print(build()[0])
