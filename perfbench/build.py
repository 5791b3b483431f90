"""Builds the program and the benchmark's JVM harness, once per source state.

The program is compiled by sbt, offline, which also prints the runtime
classpath; the harness in ``harness/`` is then compiled against that
classpath with javac. Both land under ``<state>/build``, stamped with a
hash of every source and build file, so a run that finds a matching stamp
starts the JVM directly and pays neither sbt's start-up nor its compile
check.

Run it alone with ``python3 perfbench/build.py`` from the repository root.
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")

SBT_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def _sources():
    """Every file whose change must trigger a rebuild."""
    out = []
    for base in ("src/main", "project", "perfbench/harness"):
        top = os.path.join(ROOT, base)
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    out.append(os.path.join(ROOT, "build.sbt"))
    return out


def _stamp():
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure(state_dir):
    """Returns the classpath (a list of entries) of a current build."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise BuildError(f"no program to build under {ROOT} "
                         "(build.sbt and src/main are missing)")
    out = os.path.join(state_dir, "build")
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = _stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().split(os.pathsep)

    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=ROOT, env=_sbt_env(), stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, timeout=SBT_TIMEOUT_S)
    lf_out = r.stdout.splitlines()
    with open(log, "a") as lf:
        lf.write(r.stdout)
    classes = os.path.join(ROOT, "target", "scala-2.13", "classes")
    cp_lines = [l for l in lf_out if l.startswith(classes)]
    if r.returncode != 0 or not cp_lines:
        raise BuildError(f"sbt build failed (exit {r.returncode}), see {log}")
    cp = cp_lines[-1].strip().split(os.pathsep)

    hclasses = os.path.join(out, "harness-classes")
    java_files = [os.path.join(d, f) for d, _, fs in os.walk(HARNESS)
                  for f in fs if f.endswith(".java")]
    r = subprocess.run(
        ["javac", "-nowarn", "-d", hclasses, "-cp", os.pathsep.join(cp)]
        + sorted(java_files),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=SBT_TIMEOUT_S)
    if r.returncode != 0:
        raise BuildError("javac failed:\n" + r.stdout)
    cp = [hclasses] + cp
    with open(cp_file, "w") as f:
        f.write(os.pathsep.join(cp))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure(os.path.join(ROOT, ".bench_build"))))
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(e, file=sys.stderr)
        sys.exit(2)
