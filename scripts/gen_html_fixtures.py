"""Generate the HTML-extraction fixture corpus + golden.

The golden is known BY CONSTRUCTION, not by running a second extractor:
each document is assembled from ground-truth paragraphs (canonical
single-spaced word lists) that are then wrapped in markup noise chosen
to canonicalize back to the same text under the operator's documented
whitespace/entity/boilerplate rules — inline tags inserted without
whitespace, entities substituted for known characters, comments/script/
style blocks whose content must vanish, nav/footer link blocks whose
link density puts them far above the drop threshold (>0.8 vs 0.66),
and content lines whose density stays far below (<0.5). The expected
(text, n_lines_kept, n_lines_dropped, link_density) per document is
arithmetic over the generator's own knowledge of which words are
anchor text.

Writes tests/fixtures/html_docs.parquet (doc_id, url, html),
tests/golden/html_extract_60.parquet, AND a spec-side WARC archive
tests/fixtures/html_warc/part-00000.warc.gz holding the same 60
documents as HTTP response records (own minimal serializer, no engine
import — same methodology as gen_wet_fixtures.py), so the complete
crawl path read_warc_responses -> html_extract is verifiable against
the same golden.

Run: python scripts/gen_html_fixtures.py
Verify only: python scripts/gen_html_fixtures.py --check
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def _warc_record(rec_type: str, headers: dict[str, str],
                 payload: bytes) -> bytes:
    head = ["WARC/1.0", f"WARC-Type: {rec_type}"]
    head += [f"{k}: {v}" for k, v in headers.items()]
    head.append(f"Content-Length: {len(payload)}")
    return "\r\n".join(head).encode() + b"\r\n\r\n" + payload + b"\r\n\r\n"


def build_warc_bytes(docs: list[dict]) -> bytes:
    """One gzip member per record (the Common Crawl layout, mtime=0):
    a warcinfo record, then one HTTP 200 response record per doc."""
    records = [_warc_record("warcinfo", {
        "WARC-Record-ID": "<urn:uuid:00000000-0000-0000-0000-0000000000ff>",
        "Content-Type": "application/warc-fields",
    }, b"software: html fixture writer\r\n")]
    for d in docs:
        body = d["html"].encode("utf-8")
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                b"charset=utf-8\r\n\r\n" + body)
        records.append(_warc_record("response", {
            "WARC-Target-URI": d["url"],
            "WARC-Date": "2026-08-19T00:00:00Z",
            "WARC-Record-ID": f"<urn:uuid:{d['doc_id']:032x}>",
            "Content-Type": "application/http; msgtype=response",
        }, http))
    buf = io.BytesIO()
    for chunk in records:
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(chunk)
    return buf.getvalue()

WORDS = (
    "signal window rollup tier retention token stream lattice spark "
    "parquet shuffle broadcast salted skew partition arrow batch "
    "gorilla delta codec manifest snapshot lineage checkpoint "
    "quantile entropy burstiness autocorrelation spread variance "
    "cascade watermark grid offset bucket chunk store probe rerank"
).split()

ENTITY_WORDS = [
    ("&amp;co", "&co"),
    ("x&lt;y", "x<y"),
    ("a&gt;b", "a>b"),
    ("it&#39;s", "it's"),
    ("caf&eacute;", "café"),
    ("dash&#8212;here", "dash—here"),
]

INLINE = ["b", "i", "em", "strong", "span", "code"]


def nw(s: str) -> int:
    """Non-whitespace character count (the operator's density unit)."""
    return len("".join(s.split()))


class Doc:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.frags: list[str] = []
        self.lines: list[tuple[str, int, int]] = []  # kept: (text, anchor_nw, total_nw)
        self.n_dropped = 0

    def _decorate(self, word: str) -> tuple[str, str]:
        """Return (html_fragment, truth_word) for one word."""
        r = self.rng.random()
        if r < 0.12:
            ent = self.rng.choice(ENTITY_WORDS)
            return ent[0], ent[1]
        if r < 0.30:
            tag = self.rng.choice(INLINE)
            attr = ' class="x"' if self.rng.random() < 0.5 else ""
            return f"<{tag}{attr}>{word}</{tag}>", word
        return word, word

    def _ws(self) -> str:
        return self.rng.choice([" ", "  ", "\n", "\t ", " \n "])

    def paragraph(self, n_words: int, with_anchor: bool = False) -> None:
        """A content paragraph; optionally one short inline link whose
        anchor text keeps density well under the threshold."""
        parts_html: list[str] = []
        truth: list[str] = []
        anchor_nw = 0
        k = self.rng.randrange(2, max(3, n_words - 2)) if with_anchor else -1
        i = 0
        while i < n_words:
            if i == k:
                aw = self.rng.choice(WORDS)
                parts_html.append(f'<a href="/{aw}">{aw}</a>')
                truth.append(aw)
                anchor_nw += nw(aw)
                i += 1
                continue
            w = self.rng.choice(WORDS)
            h, t = self._decorate(w)
            if self.rng.random() < 0.1:
                h = h + " <!-- c" + str(self.rng.randrange(99)) + " -->"
            parts_html.append(h)
            truth.append(t)
            i += 1
        text = " ".join(truth)
        total = nw(text)
        assert total == 0 or anchor_nw / total < 0.5, "fixture density drifted"
        body = self._ws().join(parts_html)
        wrap = self.rng.choice(["p", "div", "section", "blockquote"])
        self.frags.append(f"<{wrap}>{body}</{wrap}>")
        if total:
            self.lines.append((text, anchor_nw, total))

    def br_paragraph(self) -> None:
        """One <p> holding two lines split by <br/>."""
        a = [self.rng.choice(WORDS) for _ in range(5)]
        b = [self.rng.choice(WORDS) for _ in range(4)]
        self.frags.append(
            "<p>" + " ".join(a) + self.rng.choice(["<br>", "<br/>", "<br />"])
            + " ".join(b) + "</p>"
        )
        for ws in (a, b):
            t = " ".join(ws)
            self.lines.append((t, 0, nw(t)))

    def heading(self) -> None:
        t = " ".join(self.rng.choice(WORDS) for _ in range(3))
        lvl = self.rng.randrange(1, 4)
        self.frags.append(f"<h{lvl}>{t}</h{lvl}>")
        self.lines.append((t, 0, nw(t)))

    def list_block(self, n: int) -> None:
        items = []
        for _ in range(n):
            t = " ".join(self.rng.choice(WORDS) for _ in range(self.rng.randrange(2, 5)))
            items.append(t)
        self.frags.append(
            "<ul>" + "".join(f"<li>{t}</li>" for t in items) + "</ul>"
        )
        for t in items:
            self.lines.append((t, 0, nw(t)))

    def table_row(self) -> None:
        cells = [
            " ".join(self.rng.choice(WORDS) for _ in range(2)) for _ in range(3)
        ]
        self.frags.append(
            "<table><tr>" + "".join(f"<td>{c}</td>" for c in cells)
            + "</tr></table>"
        )
        t = " ".join(cells)
        self.lines.append((t, 0, nw(t)))

    def nav_boilerplate(self, n_links: int) -> None:
        """A link-dense block: density > 0.8 by construction -> dropped."""
        links = []
        total = 0
        for _ in range(n_links):
            w = self.rng.choice(WORDS)
            links.append(f'<a href="/{w}">{w}</a>')
            total += nw(w)
        # tiny non-anchor separator: single middot chars, at most 1 per link
        seps = " &#183; ".join(links)
        sep_nw = n_links - 1  # one middot char between each pair
        assert total / (total + sep_nw) > 0.8, "boilerplate density drifted"
        tag = self.rng.choice(["nav", "footer", "div"])
        self.frags.append(f"<{tag}>{seps}</{tag}>")
        self.n_dropped += 1

    def script_noise(self) -> None:
        junk = self.rng.choice([
            "var x = '<div>not text</div>'; if (a < b && b > c) { x(); }",
            "function f() { return '</p><p>fake'; } // <a href='x'>n</a>",
            "let s = \"</scr\" + \"ipt>\"; console.log('<br>');",
        ])
        tag = self.rng.choice(["script", "style", "noscript", "template"])
        if tag == "style":
            junk = "body > div { color: red; } /* <p>junk</p> */"
        self.frags.append(f"<{tag}>{junk}</{tag.upper() if self.rng.random() < 0.3 else tag}>")

    def comment_noise(self) -> None:
        self.frags.append("<!-- block comment <p>with fake tags</p> -->")

    def build(self, doc_id: int) -> tuple[str, str, dict]:
        title = " ".join(self.rng.choice(WORDS) for _ in range(2))
        # title contributes a kept line (documented operator behavior)
        self.lines.insert(0, (title, 0, nw(title)))
        html = (
            "<!DOCTYPE html>\n<html>\n<head>\n"
            f"<meta charset=\"utf-8\">\n<title>{title}</title>\n"
            "<style>p { margin: 0; } /* <fake> */</style>\n"
            "</head>\n<body>\n" + "\n".join(self.frags)
            + "\n</body>\n</html>"
        )
        text = "\n".join(t for t, _, _ in self.lines)
        anchor = sum(a for _, a, _ in self.lines)
        total = sum(c for _, _, c in self.lines)
        ld = (anchor / total) if total else 0.0
        golden = {
            "doc_id": doc_id,
            "n_lines_kept": len(self.lines),
            "n_lines_dropped": self.n_dropped,
            "n_chars": len(text),
            "link_density_r6": round(ld, 6),
            "text_md5": hashlib.md5(text.encode("utf-8")).hexdigest(),
        }
        return html, text, golden


def main() -> None:
    rng = random.Random(20260819)
    docs, goldens = [], []
    for doc_id in range(60):
        d = Doc(rng)
        d.nav_boilerplate(rng.randrange(4, 8))
        n_paras = rng.randrange(3, 7)
        for p in range(n_paras):
            r = rng.random()
            if r < 0.15:
                d.heading()
            elif r < 0.30:
                d.list_block(rng.randrange(2, 5))
            elif r < 0.40:
                d.table_row()
            elif r < 0.50:
                d.br_paragraph()
            else:
                d.paragraph(rng.randrange(6, 18), with_anchor=rng.random() < 0.4)
            if rng.random() < 0.35:
                d.script_noise()
            if rng.random() < 0.25:
                d.comment_noise()
        d.nav_boilerplate(rng.randrange(5, 9))
        html, text, golden = d.build(doc_id)
        docs.append({
            "doc_id": doc_id,
            "url": f"https://example.org/doc/{doc_id}",
            "html": html,
        })
        goldens.append(golden)

    warc_bytes = build_warc_bytes(docs)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fix = os.path.join(root, "tests", "fixtures", "html_docs.parquet")
    gold = os.path.join(root, "tests", "golden", "html_extract_60.parquet")
    warc = os.path.join(root, "tests", "fixtures", "html_warc",
                        "part-00000.warc.gz")
    if "--check" in sys.argv:
        old_docs = pq.read_table(fix).to_pylist()
        old_gold = pq.read_table(gold).to_pylist()
        with open(warc, "rb") as f:
            old_warc = f.read()
        ok = old_docs == docs and old_gold == goldens and old_warc == warc_bytes
        print(f"fixtures+golden+archive match vs committed: {ok}")
        raise SystemExit(0 if ok else 1)
    pq.write_table(pa.Table.from_pylist(docs), fix)
    pq.write_table(pa.Table.from_pylist(goldens), gold)
    os.makedirs(os.path.dirname(warc), exist_ok=True)
    with open(warc, "wb") as f:
        f.write(warc_bytes)
    print(f"wrote {len(docs)} docs; kept-lines total "
          f"{sum(g['n_lines_kept'] for g in goldens)}, dropped "
          f"{sum(g['n_lines_dropped'] for g in goldens)}")


if __name__ == "__main__":
    main()
