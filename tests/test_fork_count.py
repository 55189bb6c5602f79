"""``tools/fork_count.py``: the log parsing and the wrappers, no JVM."""

from __future__ import annotations

import subprocess

from tools import fork_count


def test_count_splits_the_log_per_query():
    log = [
        "ls\n",  # the launch
        "@stream_a\n",
        "chmod\n",
        "chmod\n",
        "readlink\n",
        "@put_b\n",
        "stat\n",
        "@\n",
        "chmod\n",  # after the last query: the session's stop
    ]
    zero = dict.fromkeys(fork_count.COMMANDS, 0)
    assert fork_count.count(log) == {
        fork_count.LAUNCH: {**zero, "ls": 1},
        "stream_a": {**zero, "chmod": 2, "readlink": 1},
        "put_b": {**zero, "stat": 1},
    }


def test_a_query_without_forks_reads_zero():
    zero = dict.fromkeys(fork_count.COMMANDS, 0)
    assert fork_count.count(["@quiet\n", "@\n"]) == {fork_count.LAUNCH: zero, "quiet": zero}


def test_wrappers_log_and_run_the_command(tmp_path):
    log = tmp_path / "forks.log"
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    fork_count.wrappers(str(bin_dir), str(log))
    target = tmp_path / "f"
    target.write_text("")
    subprocess.run([str(bin_dir / "chmod"), "600", str(target)], check=True)
    out = subprocess.run(
        [str(bin_dir / "stat"), "-c", "%a", str(target)], check=True, capture_output=True, text=True
    )
    assert out.stdout.strip() == "600"
    assert fork_count.count(log.read_text().splitlines()) == {
        fork_count.LAUNCH: {**dict.fromkeys(fork_count.COMMANDS, 0), "chmod": 1, "stat": 1}
    }
