"""Open-loop Reddit post generator: one process, one thread, one connection.

Listens on 127.0.0.1 (an OS-chosen port, written to --port-file), accepts
the Spark socket source's single connection and sends newline-delimited
wire-format JSON on a fixed schedule that does not slow when the consumer
slows. Each post's `created_utc` is its due time.

Schedule, after the connection is accepted at time `ta`:
  - warm-up posts from ta + 0.2 s up to W, the first 10 s trigger boundary
    at least 1 s after `ta` (Spark aligns ProcessingTime triggers to epoch
    multiples of the interval); the trigger at W processes them, which is
    the pipeline's first (cold) data batch;
  - measured posts at `--rate` per second over [W + GAP, W + --seconds).
    The gap keeps measured posts out of the trigger at W, which reads its
    source offset a little after W.
About 1% of lines are keepalives, malformed JSON or too-short texts, which
the pipeline must drop.

When the last line is sent it writes --summary (JSON): the window, the
number of lines, the sent posts (id, created_utc, measured flag) and the
send lateness (actual send time minus due time) of every line. It then
keeps the connection open until stdin closes or SIGTERM arrives.
"""
import argparse
import json
import math
import os
import signal
import socket
import sys
import time

import numpy as np

import datagen

TRIGGER_S = 10.0
GAP_S = 0.5
JUNK_SHARE = 0.01


def schedule(rng, docs, rate, seconds, ta):
    """Due-ordered (due, line, post) triples; post is (id, created, measured)
    for a real post and None for a junk line."""
    win = math.ceil((ta + 1.0) / TRIGGER_S) * TRIGGER_S
    warm = np.arange(ta + 0.2, win, 1.0 / rate)
    meas = win + GAP_S + (np.arange(int(round(rate * (seconds - GAP_S))))
                          + 0.5) / rate
    dues = np.concatenate([warm, meas])
    measured = np.arange(len(dues)) >= len(warm)
    junk = rng.random(len(dues)) < JUNK_SHARE
    pick = rng.integers(0, len(docs["doc_id"]), len(dues))
    out = []
    for i, due in enumerate(dues):
        due = float(due)
        if junk[i]:
            kind = i % 3
            if kind == 0:
                line = json.dumps({"type": "keepalive", "timestamp": due})
            elif kind == 1:
                line = '{"type": "submission", "text": "broken'
            else:
                line = json.dumps({"type": "submission", "subreddit": "x",
                                   "id": f"short{i}", "text": "tiny text",
                                   "created_utc": due, "author": "a"})
            out.append((due, line, None))
            continue
        d = int(pick[i])
        pid = str(i)  # fresh id per post, whichever document it samples
        line = json.dumps({
            "type": "submission", "subreddit": docs["lang"][d], "id": pid,
            "text": docs["text"][d], "created_utc": due,
            "author": docs["source"][d]})
        out.append((due, line, (pid, due, bool(measured[i]))))
    return win, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--summary", required=True)
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    docs = datagen.documents(rng, 5000)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(120)
    with open(a.port_file + ".tmp", "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.replace(a.port_file + ".tmp", a.port_file)
    conn, _ = srv.accept()
    ta = time.time()
    win, lines = schedule(rng, docs, a.rate, a.seconds, ta)

    late = np.empty(len(lines))
    i = 0
    while i < len(lines):
        now = time.time()
        due = lines[i][0]
        if due > now:
            time.sleep(due - now)
            now = time.time()
        j = i
        while j < len(lines) and lines[j][0] <= now:
            j += 1
        conn.sendall(("".join(l + "\n" for _, l, _ in lines[i:j])).encode())
        sent = time.time()
        late[i:j] = [sent - lines[k][0] for k in range(i, j)]
        i = j

    posts = [p for _, _, p in lines if p is not None]
    summary = {
        "window_start": win, "window_end": win + a.seconds,
        "lines": len(lines), "posts": posts,
        "late_ms": [float(x) * 1000.0 for x in late],
    }
    with open(a.summary + ".tmp", "w") as f:
        json.dump(summary, f)
    os.replace(a.summary + ".tmp", a.summary)
    # hold the connection until the harness is done with the stream
    try:
        sys.stdin.read()
    finally:
        conn.close()
        srv.close()


if __name__ == "__main__":
    main()
