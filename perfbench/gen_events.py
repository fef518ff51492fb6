"""Open-loop event generator for ``stream_fresh``, run as its own process.

It writes the seeded event stream as JSON-lines files on a fixed schedule
that does not slow down when the consumer does: every ``tick_ms`` it
writes ``rate * tick_ms / 1000`` events stamped with the tick's due time
(``created_ms``), first under a temporary name and then renamed into the
source directory, so the reader never sees a partial file.

Commands arrive one per line on stdin; each is answered on stdout:

- ``run``: start (or resume) the fixed-rate schedule; ``ok``
- ``pause``: stop the schedule; ``ok <events written so far>``
- ``backlog``: write ``--backlog`` events at once, in ``--backlog-files``
  files; ``ok <visible_at>`` (wall-clock seconds when they appeared)
- ``stats``: ``{"written": n, "late_ms": [...]}`` (per tick, how far the
  write ran behind its due time)
- ``quit``: exit

Usage: python3 gen_events.py --dir D --seed N --rate R --tick-ms T
       --users U --skew S --dup-share F --dup-ticks K --backlog B
       --backlog-files N
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import EventStream, event_json  # noqa: E402


class Generator:
    def __init__(self, args):
        self.args = args
        self.stream = EventStream(args.seed, args.users, args.skew,
                                  args.dup_share, args.dup_ticks)
        self.per_tick = args.rate * args.tick_ms // 1000
        self.lock = threading.Lock()
        self.written = 0
        self.files = 0
        self.late_ms: list[float] = []
        self.running = threading.Event()
        self.thread = None
        self.tmp = os.path.join(args.dir, "_tmp")
        self.out = os.path.join(args.dir, "in")
        os.makedirs(self.tmp, exist_ok=True)
        os.makedirs(self.out, exist_ok=True)

    def _write(self, events: list[tuple]) -> None:
        name = f"e{self.files:06d}.json"
        self.files += 1
        tmp = os.path.join(self.tmp, name)
        with open(tmp, "w") as f:
            f.write("\n".join(event_json(e) for e in events) + "\n")
        os.rename(tmp, os.path.join(self.out, name))
        self.written += len(events)

    def _schedule(self) -> None:
        tick = self.args.tick_ms / 1000
        due = time.time()
        while self.running.is_set():
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            with self.lock:
                if not self.running.is_set():
                    return
                self._write(self.stream.tick(self.per_tick, int(due * 1000)))
                self.late_ms.append(max(0.0, (time.time() - due) * 1000))
            due += tick

    def run(self) -> str:
        if not self.running.is_set():
            self.running.set()
            self.thread = threading.Thread(target=self._schedule, daemon=True)
            self.thread.start()
        return "ok"

    def pause(self) -> str:
        self.running.clear()
        if self.thread is not None:
            self.thread.join()
            self.thread = None
        return f"ok {self.written}"

    def backlog(self) -> str:
        """Write the backlog as ``--backlog-files`` files, renamed into
        the source directory together once all are written."""
        with self.lock:
            a = self.args
            events = self.stream.tick(a.backlog, int(time.time() * 1000))
            per = -(-a.backlog // a.backlog_files)
            names = []
            for i in range(0, a.backlog, per):
                name = f"e{self.files:06d}.json"
                self.files += 1
                with open(os.path.join(self.tmp, name), "w") as f:
                    f.write("\n".join(event_json(e)
                                      for e in events[i:i + per]) + "\n")
                names.append(name)
            for name in names:
                os.rename(os.path.join(self.tmp, name),
                          os.path.join(self.out, name))
            self.written += a.backlog
            return f"ok {time.time()}"

    def stats(self) -> str:
        with self.lock:
            return json.dumps({"written": self.written,
                               "late_ms": self.late_ms})


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--dir", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=int, required=True)
    p.add_argument("--tick-ms", type=int, required=True)
    p.add_argument("--users", type=int, required=True)
    p.add_argument("--skew", type=float, required=True)
    p.add_argument("--dup-share", type=float, required=True)
    p.add_argument("--dup-ticks", type=int, required=True)
    p.add_argument("--backlog", type=int, required=True)
    p.add_argument("--backlog-files", type=int, required=True)
    gen = Generator(p.parse_args())
    commands = {"run": gen.run, "pause": gen.pause,
                "backlog": gen.backlog, "stats": gen.stats}
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "quit":
            break
        if cmd not in commands:
            print(f"error unknown command {cmd!r}", flush=True)
            continue
        print(commands[cmd](), flush=True)
    gen.pause()
    return 0


if __name__ == "__main__":
    sys.exit(main())
