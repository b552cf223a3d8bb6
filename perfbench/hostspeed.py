"""Host-speed probe: a fixed, CPU- and memory-bound, pure-Python kernel,
timed on one child process per Spark slot at once.

The benchmark's host is a virtual machine on a shared machine, and how fast
its vCPUs run drifts by tens of percent over minutes.  The probe runs before
the first timed pass and after each, so every pass can be put next to how
fast the host ran around it.  The kernel uses the standard library only —
nothing of the program — so no change to the program moves it.  Each child
works on its own synthetic page of about 1.2 MB and builds a dict of about
100k words, so the probe, like an extraction pass, depends on cache and
memory speed as well as on the CPU.
"""

from __future__ import annotations

import os
import random
import re
import subprocess
import sys
import time
from html.parser import HTMLParser

# mean kernel time of the children on the reference host (a 4-vCPU virtual
# machine, 3 children at once); scales a reading to a speed factor
REFERENCE_S = 0.55
PAGE_BLOCKS = 6000

_WORD = re.compile(r"\w+")


def make_page(seed: int, blocks: int = PAGE_BLOCKS) -> str:
    """A fixed synthetic page: ``blocks`` divs of Latin word tokens and CJK
    runs, with attributes and links."""
    rnd = random.Random(seed)
    parts = []
    for i in range(blocks):
        words = " ".join(
            f"w{rnd.randrange(200000)}"
            if rnd.random() < 0.7
            else chr(0x4E00 + rnd.randrange(3000)) * rnd.randrange(1, 4)
            for _ in range(rnd.randrange(5, 40))
        )
        parts.append(
            f"<div class='c{i % 13}' data-x='{rnd.randrange(10**6)}'>"
            f"<p>{words}</p><a href='/p/{i}'>l{i}</a></div>\n"
        )
    return "".join(parts)


class _Collector(HTMLParser):
    def __init__(self):
        super().__init__()
        self.words: dict[str, int] = {}
        self.chunks: list[str] = []

    def handle_data(self, data):
        self.chunks.append(data)
        for w in _WORD.findall(data):
            self.words[w] = self.words.get(w, 0) + 1


def kernel(page: str) -> int:
    p = _Collector()
    p.feed(page)
    p.close()
    text = "".join(p.chunks)
    top = sorted(p.words.items(), key=lambda kv: (-kv[1], kv[0]))
    return len(text) + len(top)


class Probe:
    """``procs`` child processes, started once and kept for the run; each
    waits on a pipe between readings.  ``measure`` runs the kernel once on
    all of them at once and returns a speed factor: the children's mean
    kernel time ÷ REFERENCE_S, above 1 on a host slower than the
    reference."""

    def __init__(self, procs: int):
        self.children = [
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), str(i)],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                text=True,
            )
            for i in range(procs)
        ]
        self.measure()  # first call: the children finish building their pages

    def pids(self) -> set[int]:
        return {c.pid for c in self.children}

    def measure(self) -> float:
        for c in self.children:
            c.stdin.write("run\n")
            c.stdin.flush()
        times = []
        for c in self.children:
            line = c.stdout.readline()
            if not line:
                raise RuntimeError("host-speed probe process ended")
            times.append(float(line))
        return sum(times) / len(times) / REFERENCE_S

    def close(self) -> None:
        """End every child (each exits when its stdin closes) and wait."""
        for c in self.children:
            c.stdin.close()
        for c in self.children:
            try:
                c.wait(timeout=10)
            except subprocess.TimeoutExpired:
                c.kill()
                c.wait()


def _serve(seed: int) -> None:
    """Child side: for each line read, run the kernel once and write back
    how long it took (s)."""
    page = make_page(seed)
    kernel(page)
    for _ in sys.stdin:
        t0 = time.perf_counter()
        kernel(page)
        sys.stdout.write(f"{time.perf_counter() - t0}\n")
        sys.stdout.flush()


if __name__ == "__main__":
    _serve(int(sys.argv[1]))
