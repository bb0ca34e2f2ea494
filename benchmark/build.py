"""Build file of the benchmark package: compiles graft and the harness.

graft's main sources (`src/main/scala`, plus `src/main/resources`) and
the harness (`benchmark/harness`) are compiled with the Scala 2.13
compiler that ships in the Spark distribution, against the Spark jars,
into `.bench_build/classes-<hash>/`. The hash covers every input file, so
a build is reused until a source changes. Usage: build.py [checkoutRoot]
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME; they include the
    Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        raise SystemExit(f"benchmark: no Scala 2.13.17 compiler under {jars!r}; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _files(root, exts=("",)):
    """Files under root whose names end with one of exts, sorted."""
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(exts)]
    return sorted(out)


def build(root):
    """Returns the classpath entries (graft, harness) for this checkout."""
    main = os.path.join(root, "src", "main", "scala")
    resources = os.path.join(root, "src", "main", "resources")
    harness = os.path.join(HERE, "harness")
    graft_src = _files(main, (".scala",))
    if not graft_src:
        raise SystemExit(f"benchmark: no graft sources under {main}")
    res = _files(resources)
    harness_src = _files(harness, (".scala",))
    h = hashlib.sha256()
    for f in graft_src + res + harness_src:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, ".bench_build", f"classes-{h.hexdigest()[:16]}")
    if os.path.isfile(os.path.join(out, "done")):
        return [os.path.join(out, "graft"), os.path.join(out, "harness")]
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "graft"))
    os.makedirs(os.path.join(tmp, "harness"))
    jars = spark_jars()
    scalac = [java(), "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
              "scala.tools.nsc.Main", "-nowarn"]
    subprocess.run(scalac + ["-d", os.path.join(tmp, "graft"),
                             "-classpath", os.path.join(jars, "*")] + graft_src,
                   check=True, stdout=sys.stderr)
    for f in res:
        dst = os.path.join(tmp, "graft", os.path.relpath(f, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    cp = os.pathsep.join([os.path.join(tmp, "graft"), os.path.join(jars, "*")])
    subprocess.run(scalac + ["-d", os.path.join(tmp, "harness"), "-classpath", cp]
                   + harness_src, check=True, stdout=sys.stderr)
    open(os.path.join(tmp, "done"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build of the same sources won
        shutil.rmtree(tmp, ignore_errors=True)
    return [os.path.join(out, "graft"), os.path.join(out, "harness")]


if __name__ == "__main__":
    print(os.pathsep.join(build(sys.argv[1] if len(sys.argv) > 1 else os.getcwd())))
