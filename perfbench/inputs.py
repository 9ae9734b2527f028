"""Seeded benchmark inputs, generated once per seed and cached.

Everything the measured program reads is derived from the seed:

- the ten-table star schema, from ``scripts/gen_testdata.py``'s ``gen()``
  (imported, not copied);
- email files for the compat command-line tool, built so the minimal
  unique prefix length is the same for every seed (a fixed job count
  per file keeps runs of different seeds comparable);
- stream replay files: the events table sorted by time and cut into
  equal slices, one file per micro-batch.

Inputs land in ``<cache>/seed<N>/`` and are written to a temporary
directory first, so an interrupted generation never leaves a partial
cache entry behind.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import string
import sys

import pyarrow.parquet as pq

SF = 0.01  # one table set serves both query workloads (60k lineitem, 500 docs)
EMAIL_FILES = 1
EMAIL_LINES = 5_000
# minimal unique prefix of every email file: the linear driver runs one
# job per length 1..16, the gallop/binary-search driver about half that
EMAIL_PREFIX = 16
STREAM_FILES = 5  # events replay files, one micro-batch each
DOMAINS = ("mail.com", "post.org", "inbox.net", "corp.io")


def ensure(cache: str, seed: int, repo: str) -> str:
    """Return the seed's input directory, generating it when missing."""
    final = os.path.join(cache, f"seed{seed}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _tables(os.path.join(tmp, "tables"), seed, repo)
    _emails(os.path.join(tmp, "emails"), seed)
    _stream(os.path.join(tmp, "tables", "events.parquet"), os.path.join(tmp, "stream"))
    try:
        os.rename(tmp, final)
    except OSError:  # another run of the same seed won the race
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _tables(out: str, seed: int, repo: str) -> None:
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from gen_testdata import gen
    finally:
        sys.path.pop(0)
    # gen() reports row counts on stdout, which carries the result line
    with contextlib.redirect_stdout(sys.stderr):
        gen(SF, out, seed)


def _emails(out: str, seed: int) -> None:
    """EMAIL_FILES files of EMAIL_LINES distinct addresses each, and
    for the warm-up a file of its own, whose answer is 1."""
    rng = random.Random(seed * 1_000_003 + 11)
    os.makedirs(out)
    for f in range(EMAIL_FILES):
        _email_file(os.path.join(out, f"emails{f}.txt"), rng, EMAIL_LINES, EMAIL_PREFIX)
    os.makedirs(out + "_warm")
    with open(os.path.join(out + "_warm", "emails.txt"), "w") as fh:
        fh.writelines(f"{c}{rng.randrange(10**6)}@{rng.choice(DOMAINS)}\n" for c in string.ascii_lowercase)


def _email_file(path: str, rng: random.Random, lines: int, prefix: int) -> None:
    """`lines` distinct addresses whose minimal unique prefix is `prefix`.

    Each local part starts with a distinct 5-letter code, so no two
    addresses share a 5-character prefix; one planted address then
    shares exactly prefix - 1 leading characters with another. The
    minimal unique prefix is therefore `prefix` on every seed (the
    construction needs 5 < prefix <= the shortest address, 19
    characters; the planted difference may fall in the domain).
    """
    letters = string.ascii_lowercase
    words = []
    for c in rng.sample(range(26**5), lines - 1):
        code = "".join(letters[(c // 26**i) % 26] for i in range(5))
        tail = "".join(rng.choice(letters) for _ in range(6))
        words.append(f"{code}{tail}@{rng.choice(DOMAINS)}")
    base = words[rng.randrange(len(words))]
    cut = prefix - 1
    assert base[cut] in letters
    swap = letters[(letters.index(base[cut]) + 1 + rng.randrange(25)) % 26]
    words.append(base[:cut] + swap + base[cut + 1 :])
    rng.shuffle(words)
    with open(path, "w") as fh:
        fh.write("\n".join(words) + "\n")


def _stream(events: str, out: str) -> None:
    """The events table in time order, cut into STREAM_FILES files.

    Replayed one file per micro-batch, no row arrives behind the
    watermark, so the stream's final windows equal the batch query's.
    Modification times rise with the file number: the file source
    replays in that order.
    """
    os.makedirs(out)
    t = pq.read_table(events).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    step = -(-t.num_rows // STREAM_FILES)
    for i in range(STREAM_FILES):
        path = os.path.join(out, f"events{i:02d}.parquet")
        pq.write_table(t.slice(i * step, step), path)
        os.utime(path, (1_600_000_000 + 10 * i,) * 2)


def stream_files(inputs: str) -> list[str]:
    d = os.path.join(inputs, "stream")
    return [os.path.join(d, f) for f in sorted(os.listdir(d))]


def email_files(inputs: str, warm: bool = False) -> list[str]:
    d = os.path.join(inputs, "emails_warm" if warm else "emails")
    return [os.path.join(d, f) for f in sorted(os.listdir(d))]
