"""Seeded generators for the ``logs_daily`` workload.

Writes apache-access, authfail and maillog input for a run of history
days (straight into the directories the ingest streams watch) plus one
or more new days (held aside until the benchmark moves them in), and keeps the plain-Python expectation
the ingest and the daily report are checked against: good and
dead-letter line counts per day, the per-request and per-address
aggregates, and the messages each day's report must list.

Every draw comes from one ``random.Random(seed)``, so the same seed
gives byte-identical files. Dead letters sit at seeded positions, one
in a hundred lines by default.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

BASE_DAY = datetime(2026, 8, 1, tzinfo=timezone.utc)
LOCAL_DOMAIN = "mydomain.example"

_METHODS = ("GET", "GET", "GET", "POST", "HEAD")
_WORDS = ("index", "api", "login", "static", "img", "docs", "search",
          "cart", "user", "feed", "about", "news", "help", "blog")
_AGENTS = ("Mozilla/5.0", "curl/8.4.0", "Googlebot/2.1", "python-requests/2.31")
_USERS = ("root", "admin", "oracle", "test", "ubuntu", "git", "postgres",
          "deploy", "pi", "guest", "ftp user", "support")
_NAMES = ("Alice", "Bob", "Carol", "Dave", "Erin", "Frank", "Grace",
          "Heidi", "Ivan", "Judy")
_SUBJECT_WORDS = ("report", "meeting", "invoice", "hello", "update",
                  "backup", "status", "Grüße", "lunch", "alert")


@dataclass
class Sizes:
    history_days: int = 27
    apache_per_day: int = 400
    authfail_per_day: int = 200
    mails_per_day: int = 2
    new_days: int = 1
    apache_new: int = 4000
    authfail_new: int = 2000
    mails_new: int = 12
    files_per_new_day: int = 10
    dead_share: float = 0.01


@dataclass
class DayExpect:
    """What ingest and the report must produce for one new day."""

    day: datetime
    apache_good: int = 0
    apache_dead: int = 0
    authfail_good: int = 0
    authfail_dead: int = 0
    mails: int = 0
    # reqline -> [hits, bytesin, bytesout]
    apache_rows: dict = field(default_factory=dict)
    authfail_rows: Counter = field(default_factory=Counter)
    subjects: list = field(default_factory=list)

    @property
    def rows(self) -> int:
        """Input rows of the day: every log line plus every message."""
        return (self.apache_good + self.apache_dead + self.authfail_good
                + self.authfail_dead + self.mails)

    def apache_table(self) -> list[tuple[int, str]]:
        rows = [(v[0], k) for k, v in self.apache_rows.items()]
        return sorted(rows, key=lambda r: (-r[0], r[1]))

    def authfail_table(self) -> list[tuple[int, str]]:
        rows = [(n, ip) for ip, n in self.authfail_rows.items()]
        return sorted(rows, key=lambda r: (-r[0], r[1]))

    def byte_totals(self) -> tuple[int, int]:
        return (sum(v[1] for v in self.apache_rows.values()),
                sum(v[2] for v in self.apache_rows.values()))


@dataclass
class LogsInput:
    root: str
    spool: dict  # source -> the directory its stream watches
    new: list  # per new day: {source: dir}; moved into the spool on arrival
    expect: list  # per new day: DayExpect
    history_rows: int


def _paths(rng: random.Random, n: int) -> list[str]:
    out = set()
    while len(out) < n:
        parts = rng.sample(_WORDS, rng.randint(1, 3))
        out.add("/" + "/".join(parts) + rng.choice(("", ".html", ".json")))
    return sorted(out)


def _ip(rng: random.Random, pool: int) -> str:
    k = rng.randrange(pool)
    return f"198.51.{k // 250}.{k % 250 + 1}"


def _apache_line(rng, ts, paths, bad):
    path = paths[min(int(rng.paretovariate(1.2)) - 1, len(paths) - 1)]
    method = rng.choice(_METHODS)
    reqline = f"{method} {path} HTTP/1.1"
    bytesin = rng.randint(100, 5000)
    bytesout = rng.randint(200, 200000)
    status = rng.choice((200, 200, 200, 304, 404, 500))
    stamp = ts.strftime("%Y-%m-%d %H:%M:%S +0000")
    if bad:
        # a truncated line or a non-numeric status: both dead-letter
        if rng.random() < 0.5:
            return f"{stamp}|example.com|443|{_ip(rng, 5000)}|{bytesin}", None
        return (f'{stamp}|example.com|443|{_ip(rng, 5000)}|{bytesin}|'
                f'{bytesout}|{rng.randint(50, 90000)}|OK|["-", "{reqline}", '
                f'"{method}", "{path}", "HTTP/1.1", "-", "Mozilla/5.0"]'), None
    line = (f'{stamp}|example.com|443|{_ip(rng, 5000)}|{bytesin}|{bytesout}|'
            f'{rng.randint(50, 90000)}|{status}|["-", "{reqline}", "{method}", '
            f'"{path}", "HTTP/1.1", "https://ref.example/", '
            f'"{rng.choice(_AGENTS)}"]')
    return line, (reqline, bytesin, bytesout)


def _authfail_line(rng, ts, bad):
    stamp = ts.strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")
    ip = _ip(rng, 300)
    user = rng.choice(_USERS)
    pid = rng.randint(1000, 65000)
    port = rng.randint(1024, 65535)
    if bad:
        return f"{stamp} myhost sshd[{pid}]: Connection closed by {ip} port {port}", None
    shape = rng.random()
    if shape < 0.5:
        msg = f"Failed password for {user} from {ip} port {port} ssh2"
    elif shape < 0.7:
        msg = f"Failed password for invalid user {user} from {ip} port {port} ssh2"
    elif shape < 0.9:
        msg = f"Invalid user {user} from {ip} port {port}"
    else:
        msg = (f"message repeated 2 times: [ Failed password for {user} "
               f"from {ip} port {port} ssh2]")
    return f"{stamp} myhost sshd[{pid}]: {msg}", ip


def _contact(rng):
    name = rng.choice(_NAMES)
    domain = LOCAL_DOMAIN if rng.random() < 0.7 else "example.org"
    return name, f"{name.lower()}{rng.randint(1, 40)}@{domain}"


def _mail(rng, ts, serial):
    sender = _contact(rng)
    to = [_contact(rng) for _ in range(rng.randint(1, 3))]
    cc = [_contact(rng) for _ in range(rng.randint(0, 2))]
    subject = f"{' '.join(rng.sample(_SUBJECT_WORDS, 3))} #{serial}"

    def addr(c):
        return f'"{c[0]}" <{c[1]}>'

    lines = [f"From: {addr(sender)}", "To: " + ", ".join(addr(c) for c in to)]
    if cc:
        lines.append("CC: " + ", ".join(addr(c) for c in cc))
    lines += [f"Subject: {subject}",
              "Date: " + ts.strftime("%a, %d %b %Y %H:%M:%S +0000"),
              "MIME-Version: 1.0",
              "Content-Type: text/plain; charset=utf-8", "",
              "body " * rng.randint(5, 60)]
    return ("\n".join(lines) + "\n").encode("utf-8"), subject


def _dead_positions(rng, n, share):
    k = max(1, round(n * share))
    return set(rng.sample(range(n), k))


def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8") as fp:
        fp.write("\n".join(lines) + "\n")


def _day_times(rng, day, n):
    return sorted(day + timedelta(seconds=rng.uniform(0, 86399.0)) for _ in range(n))


def _emit_day(rng, day, n_apache, n_auth, n_mail, n_files, dirs, share,
              paths, serial0, expect: DayExpect | None):
    """Write one day's files into ``dirs`` ({source: dir}). Lines of a
    source are split into ``n_files`` files in time order."""
    dead_a = _dead_positions(rng, n_apache, share) if expect else set()
    dead_f = _dead_positions(rng, n_auth, share) if expect else set()
    apache, auth = [], []
    for i, ts in enumerate(_day_times(rng, day, n_apache)):
        line, rec = _apache_line(rng, ts, paths, i in dead_a)
        apache.append(line)
        if expect is not None:
            if rec is None:
                expect.apache_dead += 1
            else:
                expect.apache_good += 1
                acc = expect.apache_rows.setdefault(rec[0], [0, 0, 0])
                acc[0] += 1
                acc[1] += rec[1]
                acc[2] += rec[2]
    for i, ts in enumerate(_day_times(rng, day, n_auth)):
        line, ip = _authfail_line(rng, ts, i in dead_f)
        auth.append(line)
        if expect is not None:
            if ip is None:
                expect.authfail_dead += 1
            else:
                expect.authfail_good += 1
                expect.authfail_rows[ip] += 1
    tag = day.strftime("%Y%m%d")
    for src, lines in (("apache", apache), ("authfail", auth)):
        step = -(-len(lines) // n_files)
        for k in range(n_files):
            chunk = lines[k * step:(k + 1) * step]
            if chunk:
                _write_lines(os.path.join(dirs[src], f"{tag}_{k:03d}.log"), chunk)
    for j, ts in enumerate(_day_times(rng, day, n_mail)):
        raw, subject = _mail(rng, ts, serial0 + j)
        with open(os.path.join(dirs["maillog"], f"{tag}_{j:04d}.eml"), "wb") as fp:
            fp.write(raw)
        if expect is not None:
            expect.mails += 1
            expect.subjects.append(subject)


def generate(root: str, seed: int, sizes: Sizes) -> LogsInput:
    rng = random.Random(seed)
    paths = _paths(rng, 120)
    sources = ("apache", "authfail", "maillog")
    spool = {s: os.path.join(root, "spool", s) for s in sources}
    for d in spool.values():
        os.makedirs(d, exist_ok=True)
    serial = 0
    history_rows = 0
    for d in range(sizes.history_days):
        day = BASE_DAY + timedelta(days=d)
        _emit_day(rng, day, sizes.apache_per_day, sizes.authfail_per_day,
                  sizes.mails_per_day, 1, spool, sizes.dead_share, paths,
                  serial, None)
        serial += sizes.mails_per_day
        history_rows += (sizes.apache_per_day + sizes.authfail_per_day
                         + sizes.mails_per_day)
    new, expect = [], []
    for d in range(sizes.new_days):
        day = BASE_DAY + timedelta(days=sizes.history_days + d)
        dirs = {s: os.path.join(root, f"day{d}", s) for s in sources}
        for p in dirs.values():
            os.makedirs(p, exist_ok=True)
        exp = DayExpect(day=day)
        _emit_day(rng, day, sizes.apache_new, sizes.authfail_new,
                  sizes.mails_new, sizes.files_per_new_day, dirs,
                  sizes.dead_share, paths, serial, exp)
        serial += sizes.mails_new
        new.append(dirs)
        expect.append(exp)
    return LogsInput(root, spool, new, expect, history_rows)
