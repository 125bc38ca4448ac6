"""Build the program and the harness from source, and launch JVMs.

The program is built with its own build (`sbt compile` at the root of the
checkout); its runtime classpath and JVM options are exported from that
build, so the benchmark runs the classes a user would run. The harness in
perfbench/harness compiles against that classpath. Nothing is rebuilt
while the sources are unchanged.
"""
import hashlib
import os
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
HEAP = "3g"


class BenchError(Exception):
    """A failure of the benchmark itself; no result is printed."""


def _sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def _sbt(cwd, args, log, env):
    with open(log, "a") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args,
                           cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True)
        out.write(r.stdout)
    if r.returncode != 0:
        raise BenchError(f"sbt {' '.join(args)} failed in {cwd}; see {log}")
    return r.stdout.splitlines()


def _sources_key(root):
    """Fingerprint of everything either build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "project"),
            os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, state):
    """Compile if needed; return (classpath, java options)."""
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main")):
        raise BenchError(f"{root} holds no program to build (no build.sbt / src/main)")
    os.makedirs(state, exist_ok=True)
    key = _sources_key(root)
    cp_file, opt_file, key_file = (os.path.join(state, n)
                                   for n in ("classpath", "javaopts", "build.key"))
    if os.path.exists(key_file) and open(key_file).read() == key:
        return open(cp_file).read(), open(opt_file).read().split("\n")
    log = os.path.join(state, "build.log")
    env = _sbt_env()
    t0 = time.time()
    lines = _sbt(root, ["compile", "export Runtime/fullClasspath", "show javaOptions"], log, env)
    program_cp = [l for l in lines if not l.startswith("[") and ".jar" in l][-1].strip()
    opts = [l[len("[info] * "):].strip() for l in lines if l.startswith("[info] * ")]
    opts = [o for o in opts if not o.startswith("-Xmx")]
    env["PERFBENCH_PROGRAM_CP"] = program_cp
    _sbt(HARNESS, ["compile"], log, env)
    classes = os.path.join(HARNESS, "target", "scala-2.13", "classes")
    cp = classes + os.pathsep + program_cp
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(opt_file, "w") as f:
        f.write("\n".join(opts))
    with open(key_file, "w") as f:
        f.write(key)
    with open(log, "a") as f:
        f.write(f"build took {time.time() - t0:.1f} s\n")
    return cp, opts


def java_cmd(cp, opts, main, args, props):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + opts +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", cp, main] + list(args))


def run_jvm(cmd, cwd, env, log, timeout):
    """Run one JVM to completion. Returns (exit code, stdout, wall s, peak
    RSS MB, launch epoch ms); the peak RSS is this child's own, read from
    wait4."""
    out_path = log + ".stdout"
    with open(log, "a") as err, open(out_path, "w") as out:
        launch_ms = time.time() * 1000.0
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL)
        try:
            while True:
                pid, status, ru = os.wait4(p.pid, os.WNOHANG)
                if pid == p.pid:
                    break
                if time.monotonic() - t0 > timeout:
                    raise BenchError(f"{cmd[cmd.index('-cp') + 2]} timed out after {timeout} s")
                time.sleep(0.01)
        except BaseException:
            p.kill()
            os.wait4(p.pid, 0)
            p.returncode = -9
            raise
        wall = time.monotonic() - t0
    p.returncode = os.waitstatus_to_exitcode(status)
    with open(out_path) as f:
        stdout = f.read()
    return p.returncode, stdout, wall, ru.ru_maxrss / 1024.0, launch_ms
