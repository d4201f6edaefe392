"""Seeded inputs for the pipeline workloads, with their ground truth.

Everything the engine consumes is defined here: the WPL rules, the OML
models, the KnowDB tables and the raw lines. Nothing is taken from the
library's own generator (``wpl/generator.py``), so a library change
cannot change the workload. The ground truth is counted while the lines
are drawn, never by running the engine.

Line mix (per line, drawn independently):

- ``access``: a CLF access-log line (rule ``access``);
- ``auth``: an ISO-time auth line (rule ``auth``);
- ``partial``: an access line with a short trailing token, which the
  parser accepts with a residue (disposition ``partial``);
- ``truncated``: an access line cut inside its first field group, which
  no rule matches (disposition ``miss``).
"""

from __future__ import annotations

import bisect
import os
import random
from dataclasses import dataclass, field

WPL = """
rule access {
  (ip:sip,2*_,time/clf:recv_time<[,]>,http/request",http/status:status,digit:bytes)
}
rule auth {
  (time_3339:ts,ip:sip,chars:user,digit:code,chars:action)
}
"""

# OML models per workload. The SELECT lines are the KnowDB layer: the
# traced run drops them (``without_select``) to split OML from KnowDB.
OML_FANOUT = [
    """
name : access
rule : access
---
sip = read(sip);
ts : digit = pipe read(recv_time) | Time::to_ts_zone(0, s);
uri = pipe read(http_request) | get(uri);
status : digit = read(status);
bytes : digit = read(bytes);
owner = select owner from assets where ip = read(sip) ;
""",
    """
name : auth
rule : auth
---
sip = read(sip);
user = read(user);
code : digit = read(code);
action = read(action);
owner = select owner from assets where ip = read(sip) ;
""",
]

OML_RANGE = [
    """
name : access
rule : access
---
sip = read(sip);
status : digit = read(status);
bytes : digit = read(bytes);
zone = select zone from zones where lo <= ip4_int(read(sip)) and hi >= ip4_int(read(sip)) ;
""",
    """
name : auth
rule : auth
---
sip = read(sip);
user = read(user);
action = read(action);
zone = select zone from zones where lo <= ip4_int(read(sip)) and hi >= ip4_int(read(sip)) ;
""",
]

# routing predicates of the fan-out sinks (conditions module syntax)
KV_CONDITION = "status >= 400"
CSV_CONDITION = 'action == "fail"'

SINKS = {
    "wparse_fanout": ("json", "kv", "csv", "blackhole", "miss", "residue"),
    "wparse_enrich_range": ("blackhole",),
    "daemon_microbatch": ("json", "blackhole", "miss"),
}

SHARES = {"access": 0.68, "auth": 0.29, "partial": 0.02, "truncated": 0.01}
N_IPS = 4000  # distinct source addresses drawn by the lines
N_ASSETS = 3000  # of which this many are keys of the ``assets`` table
N_ZONES = 300  # disjoint address bands of the ``zones`` table
USERS = [f"user{i:03d}" for i in range(200)]
ACTIONS = ["login", "logout", "fail", "sudo"]
METHODS = ["GET", "GET", "GET", "POST", "PUT", "DELETE"]
STATUSES = [200] * 12 + [201, 204, 301, 304, 400, 403, 404, 404, 500, 502, 503]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def without_select(omls: list[str]) -> list[str]:
    """The models with their KnowDB ``select`` lines removed."""
    return ["\n".join(l for l in o.splitlines() if " select " not in l) + "\n"
            for o in omls]


def ip_str(n: int) -> str:
    return f"{n >> 24}.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}"


@dataclass
class Truth:
    """Counts the engine must reproduce for one batch of lines."""

    lines: int = 0
    kinds: dict[str, int] = field(default_factory=lambda: dict.fromkeys(SHARES, 0))
    kv_lines: int = 0  # access or partial lines with status >= 400
    csv_lines: int = 0  # auth lines with action == "fail"
    asset_hits: int = 0  # parsed lines whose sip is an assets key
    zone_hits: int = 0  # parsed lines whose sip lies in a zones band

    @property
    def success(self) -> int:
        return self.kinds["access"] + self.kinds["auth"]

    @property
    def partial(self) -> int:
        return self.kinds["partial"]

    @property
    def miss(self) -> int:
        return self.kinds["truncated"]

    @property
    def parsed(self) -> int:
        return self.success + self.partial

    def add(self, other: "Truth") -> None:
        self.lines += other.lines
        for k, v in other.kinds.items():
            self.kinds[k] = self.kinds.get(k, 0) + v
        self.kv_lines += other.kv_lines
        self.csv_lines += other.csv_lines
        self.asset_hits += other.asset_hits
        self.zone_hits += other.zone_hits

    def sink_lines(self, workload: str) -> dict[str, int]:
        """Lines each sink of ``workload`` must receive."""
        per_sink = {"json": self.parsed, "kv": self.kv_lines, "csv": self.csv_lines,
                    "blackhole": self.parsed, "miss": self.miss, "residue": self.partial}
        return {name: per_sink[name] for name in SINKS[workload]}


class Corpus:
    """Dimension tables plus a line drawer, all fixed by ``seed``."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        rng = self.rng
        base = 10 << 24
        ips = rng.sample(range(base, base + (1 << 20)), N_IPS)
        self.ips = ips
        self.assets = {ip: f"team{rng.randrange(40):02d}" for ip in ips[:N_ASSETS]}
        # disjoint bands: sorted distinct cut points, every other gap a band
        cuts = sorted(rng.sample(range(base, base + (1 << 20)), 2 * N_ZONES))
        self.bands = [(cuts[2 * i], cuts[2 * i + 1]) for i in range(N_ZONES)]
        self._band_lo = [lo for lo, _ in self.bands]

    def in_zone(self, ip: int) -> bool:
        i = bisect.bisect_right(self._band_lo, ip) - 1
        return i >= 0 and ip <= self.bands[i][1]

    def write_knowdb(self, root: str) -> None:
        """One ``<table>.csv`` per KnowDB table under ``root``."""
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, "assets.csv"), "w") as fh:
            fh.write("ip,owner\n")
            for ip, owner in self.assets.items():
                fh.write(f"{ip_str(ip)},{owner}\n")
        with open(os.path.join(root, "zones.csv"), "w") as fh:
            fh.write("lo,hi,zone\n")
            for i, (lo, hi) in enumerate(self.bands):
                fh.write(f"{lo},{hi},zone{i:03d}\n")

    def _clf(self, ip: int) -> tuple[str, int]:
        rng = self.rng
        status = rng.choice(STATUSES)
        line = (
            f"{ip_str(ip)} - - [{rng.randint(1, 28):02d}/{rng.choice(MONTHS)}/2026:"
            f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d} +0000] "
            f'"{rng.choice(METHODS)} /api/v{rng.randint(1, 3)}/item/{rng.randrange(100000)} HTTP/1.1" '
            f"{status} {rng.randrange(20, 60000)}"
        )
        return line, status

    def draw(self, n: int) -> tuple[list[str], Truth]:
        """``n`` lines and their ground truth."""
        rng = self.rng
        kinds = list(SHARES)
        weights = list(SHARES.values())
        t = Truth(lines=n)
        out = []
        for kind in rng.choices(kinds, weights, k=n):
            t.kinds[kind] += 1
            ip = rng.choice(self.ips)
            if kind == "auth":
                action = rng.choice(ACTIONS)
                out.append(
                    f"2026-10-{rng.randint(1, 28):02d}T{rng.randrange(24):02d}:"
                    f"{rng.randrange(60):02d}:{rng.randrange(60):02d}Z {ip_str(ip)} "
                    f"{rng.choice(USERS)} {rng.randrange(1000)} {action}"
                )
                t.csv_lines += action == "fail"
            else:
                line, status = self._clf(ip)
                if kind == "truncated":
                    # cut before the closing bracket of the time field
                    out.append(line[: line.index("]") - rng.randint(1, 10)])
                    continue
                if kind == "partial":
                    line += f" x{rng.randrange(10)}"
                out.append(line)
                t.kv_lines += status >= 400
            t.asset_hits += ip in self.assets
            t.zone_hits += self.in_zone(ip)
        return out, t


def write_lines(path: str, lines: list[str]) -> int:
    """Write one line file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)
