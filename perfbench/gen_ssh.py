"""Seeded raw-syslog backlog for the ``ingest`` workload (pure Python).

Covers every line shape of FIXTURES.md §B, including the lines the
parser must drop (non-sshd daemons and malformed text), with a skewed
source-IP mix:

- 2 attackers: ~40% of lines, failed logins in 30-minute bursts across
  many ports (brute-force windows and stateful alerts fire on them);
- 2 bots: ~16% of lines, every message shape, in 2-hour bursts;
- 16 benign hosts: the rest, mostly accepted logins and disconnects.

About 3% of lines are re-delivered copies of an earlier line, so
``stream_dedup`` has duplicates to drop. Lines are sorted by time over
four days (2024-02-10 .. 2024-02-13) and split into ``files`` text
files of contiguous chunks.

Usage: ``python3 perfbench/gen_ssh.py OUT_DIR --seed N`` writes the
``ingest`` workload's backlog: ``LINES`` lines in ``files_for(nproc)``
files, as ``run.py`` does; prints ``{"seed", "lines", "files"}`` as
JSON.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import random
import sys

USERS = ("root", "admin", "ubuntu", "oracle", "test", "guest")
HOSTS = ("srv1", "srv1", "srv2", "srv3")
START = datetime.datetime(2024, 2, 10)
SPAN_S = 4 * 86_400
DUP_SHARE = 0.03
# Backlog size of the ``ingest`` workload.
LINES = 20_000

ATTACKER_SHAPES = (
    "Failed password for {user} from {ip} port {port} ssh2",
    "Failed password for {user} from {ip} port {port} ssh2",
    "Failed password for invalid user {user} from {ip} port {port} ssh2",
    "Invalid user {user} from {ip}",
    "pam_unix(sshd:auth): authentication failure; logname= uid=0 euid=0 "
    "tty=ssh ruser= rhost={ip}  user={user}",
    "error: maximum authentication attempts exceeded; Too many authentication "
    "failures for {user} from {ip} port {port} ssh2 [preauth]",
    "PAM service(sshd) ignoring max retries; 6 > 3",
    "Failed none for invalid user {user} from {ip} port {port} ssh2",
    "Connection closed by {ip} [preauth]",
)
BOT_SHAPES = (
    "reverse mapping checking getaddrinfo for host{port}.example [{ip}] "
    "failed - POSSIBLE BREAK-IN ATTEMPT!",
    "Did not receive identification string from {ip}",
    "Received disconnect from {ip}: 11: Bye Bye [preauth]",
    "Received disconnect from {ip}: Connection closed",
    "Timeout, client not responding.",
    "Invalid user {user} from {ip}",
    "Failed password for {user} from {ip} port {port} ssh2",
    "Connection closed by {ip} [preauth]",
)
BENIGN_SHAPES = (
    "Accepted password for {user} from {ip} port {port} ssh2",
    "Accepted password for {user} from {ip} port {port} ssh2",
    "Received disconnect from {ip}: 11: disconnected by user",
    "pam_unix(sshd:session): session opened for user {user} by (uid=0)",
    "Timeout, client not responding.",
    "Connection closed by {ip} [preauth]",
)
# Lines the master regex must reject (P-1): other daemons, then junk.
NOT_SSHD = (
    "{stamp} {host} CRON[{pid}]: pam_unix(cron:session): session opened "
    "for user root by (uid=0)",
    "{stamp} {host} systemd[1]: Started Session {pid} of user ubuntu.",
)
MALFORMED = (
    "not a syslog line at all",
    "--- log rotated ---",
    "sshd[{pid}]: truncated line without a header",
)


def _actors(rng: random.Random) -> list[tuple[str, float, tuple[str, ...], int]]:
    """(ip, weight, shapes, burst length in s); bursts of 0 = spread."""
    attackers = [f"203.0.113.{rng.randrange(1, 255)}", f"198.51.100.{rng.randrange(1, 255)}"]
    bots = [f"192.0.2.{rng.randrange(1, 128)}", f"192.0.2.{rng.randrange(128, 255)}"]
    benign = [f"10.0.{i}.{rng.randrange(1, 255)}" for i in range(16)]
    out = [(attackers[0], 0.25, ATTACKER_SHAPES, 1800), (attackers[1], 0.15, ATTACKER_SHAPES, 1800)]
    out += [(ip, 0.08, BOT_SHAPES, 7200) for ip in bots]
    # Zipf-like benign weights: a few busy hosts, a long quiet tail.
    total = sum(1 / (i + 1) for i in range(len(benign)))
    out += [(ip, 0.38 * (1 / (i + 1)) / total, BENIGN_SHAPES, 0) for i, ip in enumerate(benign)]
    return out


def _stamp(t: datetime.datetime) -> str:
    return f"{t:%b} {t.day:2d} {t:%H:%M:%S}"


def generate(seed: int, lines: int) -> list[str]:
    """The backlog, in time order; a pure function of (seed, lines)."""
    rng = random.Random(seed)
    actors = _actors(rng)
    bursts = {
        ip: [rng.randrange(SPAN_S - length) for _ in range(6)]
        for ip, _, _, length in actors
        if length
    }
    weights = [w for _, w, _, _ in actors] + [0.04, 0.02]
    n_fresh = lines - int(lines * DUP_SHARE)
    rows: list[tuple[int, str]] = []
    for _ in range(n_fresh):
        k = rng.choices(range(len(weights)), weights)[0]
        if k < len(actors):
            ip, _, shapes, length = actors[k]
            if length:
                t = rng.choice(bursts[ip]) + rng.randrange(length)
            else:
                t = rng.randrange(SPAN_S)
        else:
            t = rng.randrange(SPAN_S)
        when = START + datetime.timedelta(seconds=t)
        host = rng.choice(HOSTS)
        pid = rng.randrange(1000, 65536)
        if k < len(actors):
            msg = rng.choice(shapes).format(
                user=rng.choice(USERS), ip=ip, port=rng.randrange(1024, 65536)
            )
            line = f"{_stamp(when)} {host} sshd[{pid}]: {msg}"
        elif k == len(actors):
            line = rng.choice(NOT_SSHD).format(stamp=_stamp(when), host=host, pid=pid)
        else:
            line = rng.choice(MALFORMED).format(pid=pid)
        rows.append((t, line))
    rows += [rows[rng.randrange(n_fresh)] for _ in range(lines - n_fresh)]
    rows.sort(key=lambda r: r[0])
    return [line for _, line in rows]


def files_for(cores: int) -> int:
    """Backlog files for a ``local[cores]`` session: two per core."""
    return 2 * cores


def write_backlog(out_dir: str, seed: int, lines: int, files: int) -> dict[str, int]:
    """Write ``files`` chunks ``part-NNNNN.log`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    backlog = generate(seed, lines)
    step = -(-len(backlog) // files)
    for i in range(files):
        chunk = backlog[i * step : (i + 1) * step]
        with open(os.path.join(out_dir, f"part-{i:05d}.log"), "w") as f:
            f.write("".join(line + "\n" for line in chunk))
    return {"seed": seed, "lines": len(backlog), "files": files}


def read_backlog(src_dir: str) -> list[str]:
    """The lines exactly as Spark's text source splits them."""
    out: list[str] = []
    for name in sorted(os.listdir(src_dir)):
        with open(os.path.join(src_dir, name)) as f:
            out += f.read().split("\n")[:-1]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args(argv)
    files = files_for(len(os.sched_getaffinity(0)))
    print(json.dumps(write_backlog(a.out_dir, a.seed, LINES, files)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
