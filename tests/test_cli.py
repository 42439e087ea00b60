"""CLI smoke tests (the cmd/server analog): serve + one-shot
subcommands driven over a real subprocess, JSON wire round-trip
through the served port.
"""

from __future__ import annotations

import base64
import json
import os
import subprocess
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(args, timeout=240):
    return subprocess.run(
        [sys.executable, "-m", "proglog_spark", *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_append_read_bounds_cli(tmp_path):
    path = str(tmp_path / "clilog")
    out = _run_cli(["append", "--path", path, "--create", "x", "y", "z"])
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "0 2"

    out = _run_cli(["read", "--path", path, "1"])
    assert out.stdout.strip().splitlines()[-1] == "1\ty\t0\t0"

    out = _run_cli(["bounds", "--path", path])
    assert out.stdout.strip().splitlines()[-1] == "lowest=0 highest=2 count=3"

    # the scripting error contract: canonical one-line string on
    # stderr + exit 2, not a traceback (api/v1/error.go analog)
    out = _run_cli(["read", "--path", path, "999"])
    assert out.returncode == 2
    assert out.stderr.strip().splitlines()[-1] == "OFFSET_OUT_OF_RANGE:999"

    # same contract for builtin misuse errors: a missing --path is a
    # one-line NOT_FOUND + exit 2, never a traceback
    out = _run_cli(["read", "--path", str(tmp_path / "nope"), "0"])
    assert out.returncode == 2
    last = out.stderr.strip().splitlines()[-1]
    assert last.startswith("NOT_FOUND:") and "Traceback" not in out.stderr


def _serve(path, env=None, stderr=subprocess.DEVNULL, create=True):
    """Start ``serve`` on ``path``; returns the process and the address
    it printed as its first stdout line."""
    import queue
    import threading

    proc = subprocess.Popen(
        [
            sys.executable, "-m", "proglog_spark",
            "serve", "--path", path, "--port", "0", *(["--create"] if create else []),
        ],
        cwd=REPO,
        env=env,
        stdout=subprocess.PIPE,
        stderr=stderr,
        text=True,
    )
    # read stdout on a helper thread: a bare readline() would block
    # past the deadline if the subprocess wedges without printing
    lines: queue.Queue = queue.Queue()

    def pump():
        for line in proc.stdout:
            lines.put(line)

    threading.Thread(target=pump, daemon=True).start()
    deadline = time.time() + 240
    try:
        while time.time() < deadline:
            try:
                line = lines.get(timeout=1)
            except queue.Empty:
                if proc.poll() is not None:
                    raise AssertionError("serve process died before binding")
                continue
            assert line.startswith("SERVING "), f"first stdout line: {line!r}"
            return proc, line.split()[1]
        raise AssertionError("no SERVING line within deadline")
    except BaseException:
        proc.terminate()
        proc.wait(timeout=30)
        raise


def _call(addr, method, payload=None, q=""):
    req = urllib.request.Request(f"http://{addr}/{q}", method=method)
    data = json.dumps(payload).encode() if payload else None
    with urllib.request.urlopen(req, data=data, timeout=60) as r:
        return json.loads(r.read())


def test_serve_cli_roundtrip(tmp_path):
    proc, addr = _serve(str(tmp_path / "servelog"))
    try:
        v = base64.b64encode(b"cli-hello").decode()
        assert _call(addr, "POST", {"record": {"value": v}}) == {"offset": 0}
        got = _call(addr, "GET", q="?offset=0")
        assert base64.b64decode(got["record"]["value"]) == b"cli-hello"
    finally:
        proc.terminate()
        proc.wait(timeout=30)


def test_local_serve_and_cli_start_no_jvm(tmp_path):
    """On a local path ``serve`` and the one-shot commands serve
    Produce, Consume and bounds without starting Spark: no ``java``
    process appears below them, and no class-data-sharing archive is
    built, since only a process that launched a JVM builds one."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from stats import java_descendant

    cache = tmp_path / "cache"
    env = dict(os.environ, XDG_CACHE_HOME=str(cache))
    path = str(tmp_path / "log")
    with open(tmp_path / "serve.stderr", "w") as err:
        proc, addr = _serve(path, env, stderr=err)
    try:
        v = base64.b64encode(b"no-jvm").decode()
        assert _call(addr, "POST", {"record": {"value": v}}) == {"offset": 0}
        got = _call(addr, "GET", q="?offset=0")
        assert base64.b64decode(got["record"]["value"]) == b"no-jvm"
        assert _call(addr, "GET", q="bounds") == {
            "lowest_offset": 0, "highest_offset": 0, "count": 1,
        }
        assert java_descendant(proc.pid) is None
    finally:
        proc.terminate()
        assert proc.wait(timeout=60) == 0
    assert "starting Spark" not in (tmp_path / "serve.stderr").read_text()

    def run(*args):
        cli = subprocess.Popen(
            [sys.executable, "-m", "proglog_spark", *args], cwd=REPO, env=env,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        while cli.poll() is None:  # a JVM would live for seconds
            assert java_descendant(cli.pid) is None
            time.sleep(0.02)
        out, err = cli.communicate()
        assert cli.returncode == 0, err[-2000:]
        return out.strip().splitlines()[-1]

    assert run("append", "--path", path, "y", "z") == "1 2"
    assert run("read", "--path", path, "2") == "2\tz\t0\t0"
    assert run("bounds", "--path", path) == "lowest=0 highest=2 count=3"
    assert not list(cache.rglob("*.jsa"))
