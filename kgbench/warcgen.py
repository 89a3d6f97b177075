"""Seeded generator of the `warc_wide` input: gzipped WARC files with one
gzip member per record (the Common Crawl layout) and a manifest of what
was planted in them.

Every page lists people drawn from a pool of entities. The pool is the
same for every seed, as SyntheticCorpus's name pool is: the seed picks
which entities each page lists and how, so every seed gives the linker a
vocabulary of the same shape and size. A mention is
rendered as the entity's canonical name, as its accent variant (one vowel
of the last name accented, so it folds back to the canonical name) or as
its one-edit variant (one consonant of the last name replaced). Many
entities share a first name, which is what makes name blocking hard.

Outputs, under the target directory:
  warc/part-NNNNN.warc.gz   the crawl: warcinfo, then request + response
                            records per page
  labels.tsv                url, then the surface names labelled on it
  accent_pairs.tsv          canonical name, accent variant (every entity)
  meta.json                 sizes and the planted record count

The same seed gives byte-identical files: randomness comes from a
splitmix64 stream and every gzip member is written with mtime 0.
"""

import gzip
import json
import os

MASK = (1 << 64) - 1
POOL_SEED = 0x5EED

FIRST = [
    "Adam", "Alan", "Alex", "Amir", "Anna", "Arne", "Bela", "Boris", "Carl",
    "Clara", "Dana", "Dario", "Ella", "Emil", "Erik", "Felix", "Filip",
    "Greta", "Hana", "Igor", "Ivan", "Jana", "Jonas", "Karl", "Klara",
    "Lena", "Leon", "Lina", "Luca", "Marco", "Maria", "Marta", "Milan",
    "Mira", "Nadia", "Nina", "Noah", "Olaf", "Omar", "Oskar", "Paula",
    "Petra", "Rafael", "Rosa", "Ruth", "Sara", "Simon", "Sofia", "Tomas",
    "Vera",
]
ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v",
          "z", "br", "dr", "kr", "st", "tr", "sch"]
VOWELS = ["a", "e", "i", "o", "u"]
CODAS = ["", "n", "r", "s", "l", "k", "t", "m"]
ACCENT = {"a": "á", "e": "é", "i": "í", "o": "ó",
          "u": "ú"}
CONSONANTS = "bdfgklmnprstvz"
ROLES = ["Professor", "Lecturer", "Researcher", "Fellow", "Director",
         "Engineer"]
TITLES = ["Dr.", "Prof.", "Mr.", "Mrs."]
TOPICS = ["graph mining", "crawling", "entity linking", "information "
          "extraction", "databases", "stream processing", "compilers",
          "distributed systems"]


class Rng:
    """splitmix64: a portable, seeded stream (same numbers everywhere)."""

    def __init__(self, seed):
        self.state = seed & MASK

    def next(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & MASK
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
        return z ^ (z >> 31)

    def below(self, n):
        return self.next() % n

    def pick(self, seq):
        return seq[self.below(len(seq))]


def last_name(rng):
    parts = [rng.pick(ONSETS) + rng.pick(VOWELS) + rng.pick(CODAS)
             for _ in range(2 + rng.below(2))]
    return "".join(parts).capitalize()


def accent_variant(rng, last):
    spots = [i for i, c in enumerate(last) if c in ACCENT]
    i = spots[rng.below(len(spots))]
    return last[:i] + ACCENT[last[i]] + last[i + 1:]


def edit_variant(rng, last):
    spots = [i for i, c in enumerate(last) if i > 0 and c in CONSONANTS]
    if not spots:
        return None
    i = spots[rng.below(len(spots))]
    repl = [c for c in CONSONANTS if c != last[i]]
    return last[:i] + rng.pick(repl) + last[i + 1:]


def entity_pool(rng, n):
    """n entities: (canonical, accent variant, one-edit variant or None).
    No surface form is shared by two entities."""
    pool, taken = [], set()
    while len(pool) < n:
        first, last = rng.pick(FIRST), last_name(rng)
        canon = f"{first} {last}"
        if canon in taken:
            continue
        accent = f"{first} {accent_variant(rng, last)}"
        edit = edit_variant(rng, last)
        edit = f"{first} {edit}" if edit else None
        if accent in taken or edit in taken or edit == canon:
            edit = None
        if accent in taken:
            continue
        taken.update(x for x in (canon, accent, edit) if x)
        pool.append((canon, accent, edit))
    return pool


def page_html(rng, page, people):
    topic = rng.pick(TOPICS)
    rows = []
    for i, name in enumerate(people):
        role = rng.pick(ROLES)
        user = "".join(c for c in name.lower() if c.isascii() and
                       (c.isalpha() or c == " ")).replace(" ", ".")
        if i % 3 == 0:
            rows.append(f'<li>{rng.pick(TITLES)} <a href="/people/{i}">'
                        f'{name}</a> , {role} , {user}@wide.example</li>')
        else:
            rows.append(f'<li><a href="/people/{i}">{name}</a> , {role} '
                        f'of {topic}</li>')
    return ("<html><head><title>Group " + str(page) + "</title>"
            "<style>li { margin: 0 }</style></head>\n<body>\n"
            f"<div class=\"nav\"><a href=\"/\">Home</a></div>\n"
            f"<h1>Research group on {topic}</h1>\n"
            f"<p>The group works on {topic} and related problems .</p>\n"
            "<ul class=\"people\">\n" + "\n".join(rows) + "\n</ul>\n"
            "<script>var x = 1;</script>\n"
            "<p>Contact the office for visits .</p>\n</body></html>\n")


def record(headers, payload):
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    head += f"Content-Length: {len(payload)}\r\n\r\n"
    return gzip.compress(head.encode("utf-8") + payload + b"\r\n\r\n",
                         mtime=0)


def generate(out_dir, seed, pages, pool_size, names_per_page, files):
    pool = entity_pool(Rng(POOL_SEED), pool_size)
    rng = Rng(seed * 0x2545F4914F6CDD1D + 1)
    os.makedirs(os.path.join(out_dir, "warc"), exist_ok=True)
    labels = []
    chunks = [[] for _ in range(files)]
    for f in range(files):
        info = f"software: kgbench warcgen\r\nseed: {seed}\r\n".encode()
        chunks[f].append(record([
            ("WARC-Type", "warcinfo"),
            ("WARC-Date", "2024-01-01T00:00:00Z"),
            ("WARC-Record-ID", f"<urn:kgbench:{seed}:info:{f}>"),
            ("Content-Type", "application/warc-fields")], info))
    for p in range(pages):
        url = f"https://wide.example/group/{seed}/{p}"
        people, seen = [], set()
        while len(people) < names_per_page:
            canon, accent, edit = pool[rng.below(len(pool))]
            roll = rng.below(10)
            name = accent if roll < 3 else (edit or canon) if roll < 5 \
                else canon
            if name not in seen:
                seen.add(name)
                people.append(name)
        labels.append((url, people))
        body = page_html(rng, p, people).encode("utf-8")
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
                b"\r\nContent-Length: " + str(len(body)).encode() +
                b"\r\n\r\n" + body)
        date = f"2024-01-{1 + p % 28:02d}T00:00:00Z"
        req = (f"GET /group/{seed}/{p} HTTP/1.1\r\nHost: wide.example\r\n"
               "\r\n").encode()
        c = chunks[p % files]
        c.append(record([
            ("WARC-Type", "request"), ("WARC-Target-URI", url),
            ("WARC-Date", date),
            ("WARC-Record-ID", f"<urn:kgbench:{seed}:req:{p}>"),
            ("Content-Type", "application/http; msgtype=request")], req))
        c.append(record([
            ("WARC-Type", "response"), ("WARC-Target-URI", url),
            ("WARC-Date", date),
            ("WARC-Record-ID", f"<urn:kgbench:{seed}:resp:{p}>"),
            ("Content-Type", "application/http; msgtype=response")], http))
    for f, c in enumerate(chunks):
        with open(os.path.join(out_dir, "warc", f"part-{f:05d}.warc.gz"),
                  "wb") as fh:
            fh.write(b"".join(c))
    with open(os.path.join(out_dir, "labels.tsv"), "w",
              encoding="utf-8") as fh:
        for url, people in labels:
            fh.write(url + "\t" + "\t".join(people) + "\n")
    with open(os.path.join(out_dir, "accent_pairs.tsv"), "w",
              encoding="utf-8") as fh:
        for canon, accent, _ in pool:
            fh.write(f"{canon}\t{accent}\n")
    meta = {"seed": seed, "pages": pages, "pool": pool_size,
            "names_per_page": names_per_page, "files": files,
            "records": files + 2 * pages,
            "distinct_names": len({n for _, ps in labels for n in ps})}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    return meta
