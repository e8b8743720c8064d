"""Build file of the benchmark: compiles the program under test
(``src/main/scala`` of the checkout) and the benchmark's JVM harness
(``perfbench/harness``) with the Scala compiler that ships among the
jars the repository's ``build.sbt`` names as its unmanaged base.

The output is cached as ``.bench_build/perfbench/{program,resources,harness}-<hash>.jar``,
keyed on the source files, so a checkout builds once.

    python3 perfbench/build.py      # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def _jar_dir():
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"no build.sbt at {ROOT}: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return Path(m.group(1))


def _sources(d):
    return sorted(p for p in d.rglob("*") if p.is_file())


def build():
    """Compile if needed; return the classpath string to run with. The
    classes go into jars, so the JVM can keep a class-data archive of them
    (see run.py)."""
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        raise BuildError(f"no src/main/scala under {ROOT}: not a checkout of the program")
    jars = _jar_dir()
    jar_cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    compiler = [str(j) for j in sorted(jars.glob("scala-*.jar"))
                if re.match(r"scala-(compiler|library|reflect)-", j.name)]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    h = hashlib.sha256()
    for p in _sources(main) + [ROOT / "build.sbt"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    program = _compile(compiler, "program", h, jar_cp, (main / "scala").rglob("*.scala"))
    resources = _jar(main / "resources", OUT / f"resources-{h.hexdigest()[:16]}.jar")
    harness = ROOT / "perfbench" / "harness"
    for p in _sources(harness):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    bench = _compile(compiler, "harness", h, os.pathsep.join([str(program), jar_cp]),
                     harness.glob("*.scala"))
    return os.pathsep.join([str(bench), str(program), str(resources), jar_cp])


def _compile(compiler, name, h, cp, sources):
    """Compile ``sources`` against ``cp`` into a jar keyed on ``h``."""
    out = OUT / f"{name}-{h.hexdigest()[:16]}.jar"
    if out.exists():
        return out
    tmp = OUT / f"{name}-classes"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
                        "-classpath", cp] + [str(s) for s in sources],
                       capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError(f"{name} compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    _jar(tmp, out)
    shutil.rmtree(tmp)
    return out


def _jar(src, out):
    """Zip the files under ``src`` into the jar ``out`` (written atomically)."""
    if out.exists():
        return out
    tmp = out.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for p in _sources(src):
            z.write(p, p.relative_to(src).as_posix())
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
