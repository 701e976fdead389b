"""Build file of the benchmark.

Compiles the program (`src/main/scala`) and the benchmark
(`perfbench/src`) with the Scala compiler that ships among the Spark jars
the program's build links against (`SPARK_HOME/jars`, else the
`unmanagedBase` directory named in `build.sbt`). Classes go to
`.bench_build/classes/{main,bench}` and are reused while the sources are
unchanged.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def jar_dir(root: Path) -> Path:
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home and (Path(spark_home) / "jars").is_dir():
        return Path(spark_home) / "jars"
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("no Spark jar directory: set SPARK_HOME or unmanagedBase in build.sbt")


def sources(d: Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def stamp(files, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_once(jars: Path, srcs, out: Path, classpath: str, extra_stamp: str) -> None:
    """Compile `srcs` into `out` unless an identical build is already there."""
    if not srcs:
        raise BuildError(f"no Scala sources for {out.name}")
    want = stamp(srcs, extra_stamp + classpath)
    stamp_file = out.with_suffix(".sha256")
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    res = subprocess.run(cmd + [str(s) for s in srcs], stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise BuildError(f"compiling {out.name} failed")
    stamp_file.write_text(want)


def build(root: Path) -> str:
    """Build both class trees; return the runtime classpath."""
    main_src = root / "src" / "main" / "scala"
    if not main_src.is_dir():
        raise BuildError(f"no program sources under {main_src.relative_to(root)}")
    jars = jar_dir(root)
    classes = root / BUILD_DIR / "classes"
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], stderr=subprocess.PIPE, text=True).stderr
    main_out, bench_out = classes / "main", classes / "bench"
    compile_once(jars, sources(main_src), main_out, "", java)
    compile_once(jars, sources(root / "perfbench" / "src"), bench_out, str(main_out), java)
    return os.pathsep.join([str(bench_out), str(main_out), f"{jars}/*"])


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
