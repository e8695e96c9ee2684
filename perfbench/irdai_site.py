"""Seeded IRDAI-like listing site: generator and loopback server.

The generator builds, from its own specification and never by running
the program under test:

- the Liferay-style listing pages of the four product types, 60 rows a
  page, with the dirty shapes of FIXTURES.md: rows too short for their
  type (F1), rows with an empty key (F2), duplicate document URLs,
  Devanagari link texts and percent-encoded URLs, two-format dates,
  archived rows marked by row class or by first-cell text, onclick-only
  links and link texts too short to name the file;
- one small FlateDecode PDF per distinct document URL, with the text
  lines it was built from;
- the bronze rows a correct scrape keeps: every listed row except the
  F1/F2 rows, with the download set collapsed to one request per URL.

A second month adds about 3% new listings at the top of each listing
(newest first, as the portal orders them) and flips the archive state
of a few old rows, so a delta run must fetch only the new documents.

Same seed, same bytes: every draw comes from ``random.Random(seed)``.

``serve`` runs the site as a loopback HTTP server in a child process
(this file run as a script) and counts every request it answers;
``SiteServer`` starts, queries and stops that child. The child serves
until its standard input closes, so it also ends when its parent dies.
"""

from __future__ import annotations

import hashlib
import html
import json
import os
import random
import subprocess
import sys
import threading
import zlib
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import quote, unquote, urlsplit
from urllib.request import urlopen

PAGE_SIZE = 60
PRODUCT_TYPES = ("life", "life_list", "nonlife", "health")
# Row counts of the reference's checked-in metadata (BASELINE.md).
GOLDEN_ROWS = {"life": 1513, "life_list": 54, "nonlife": 4220, "health": 1819}
URL_PATHS = {
    "life": "/life-insurance-products",
    "life_list": "/list-of-life-products",
    "nonlife": "/non-life-insurance-products",
    "health": "/health-insurance-products",
}
# Bronze columns the listing defines for each type, in cell order
# after the leading status cell (reference scraper/{type}.py).
COLUMNS = {
    "life": [
        "financial_year", "insurer", "product_name", "uin", "type_of_product",
        "launch_modification_date", "closing_withdrawal_date",
        "protection_savings_retirement", "par_nonpar", "individual_group",
        "remarks",
    ],
    "life_list": ["short_description", "last_updated", "sub_title"],
    "nonlife": [
        "s_no", "financial_year", "insurer", "product_name", "type_of_product",
        "uin", "date_of_approval",
    ],
    "health": [
        "financial_year", "insurer", "uin", "product_name", "date_of_approval",
    ],
}
LISTING_PATHS = frozenset(URL_PATHS.values())
KEY = {"life": "uin", "life_list": "short_description", "nonlife": "uin", "health": "uin"}
# Minimum cells a row needs to be kept (F1, reference scraper/{type}.py).
MIN_CELLS = {"life": 13, "life_list": 5, "nonlife": 9, "health": 8}

_INSURERS = [
    "Acme Life Insurance Co. Ltd.", "Bharat General & Allied", "Sahyog Health (India)",
    "Zen Insure Ltd", "Nirbhay Assurance", "Kaveri Mutual", "Orbit Re-Insurance",
    "Ganga Life", "Pioneer Shield Co.", "Vistara Care Ltd",
]
_WORDS = [
    "secure", "plus", "shield", "care", "term", "wealth", "guard", "smart",
    "saral", "jeevan", "arogya", "raksha", "gold", "star", "family", "group",
    "income", "future", "elite", "classic", "prime", "micro", "rural", "cover",
]
_DEVANAGARI = ["जीवन", "बीमा", "सुरक्षा", "योजना", "आरोग्य", "रक्षा"]
_TEXT_WORDS = [
    "policy", "premium", "benefit", "insured", "claim", "rider", "term",
    "surrender", "maturity", "nominee", "grace", "period", "exclusion",
    "coverage", "annual", "sum", "assured", "renewal", "waiting", "hospital",
]


@dataclass
class Listing:
    """One listed row: its cells as the page shows them, plus what a
    correct scrape derives from it."""

    product_type: str
    cells: list[str]            # every cell's text, status cell first
    url: str                    # absolute document URL
    link_text: str | None       # <a> text; None for an onclick-only link
    row_class: str = ""
    onclick: bool = False
    kept: bool = True           # False for F1/F2 rows
    serial: int = 0             # stable identity across months

    def expected_row(self) -> dict[str, str]:
        """The bronze fields this row must produce (scraped_at and the
        download bookkeeping columns excluded)."""
        cols = COLUMNS[self.product_type]
        row = {c: self.cells[i + 1] for i, c in enumerate(cols)}
        first = self.cells[0].lower()
        if "archive" in self.row_class.lower() or (
            "archived" in first and "non-archived" not in first
        ):
            row["archive_status"] = "Archived"
        else:
            row["archive_status"] = "Non-Archived"
        row["document_url"] = self.url
        if self.link_text is not None and len(self.link_text) >= 3:
            row["document_filename"] = self.link_text
        else:
            row["document_filename"] = urlsplit(self.url).path.rsplit("/", 1)[-1]
        return row


@dataclass
class Month:
    listings: dict[str, list[Listing]] = field(default_factory=dict)

    def n_pages(self, product_type: str) -> int:
        return max(1, -(-len(self.listings[product_type]) // PAGE_SIZE))

    def pages(self, base_url: str) -> dict[tuple[str, int], str]:
        out = {}
        for pt, rows in self.listings.items():
            n_pages = self.n_pages(pt)
            for p in range(1, n_pages + 1):
                out[(pt, p)] = _page_html(
                    base_url, pt, p, n_pages, len(rows),
                    rows[(p - 1) * PAGE_SIZE : p * PAGE_SIZE],
                )
        return out


@dataclass
class Site:
    base_url: str
    months: list[Month]
    docs: dict[str, bytes]          # absolute URL -> PDF bytes
    doc_text: dict[str, list[str]]  # absolute URL -> text lines

    def expected_rows(self, month: int) -> dict[str, list[dict[str, str]]]:
        return {
            pt: [r.expected_row() for r in rows if r.kept]
            for pt, rows in self.months[month].listings.items()
        }

    def new_rows(self) -> dict[str, list[dict[str, str]]]:
        """Rows the second month lists that the first did not."""
        old = {r.serial for rows in self.months[0].listings.values() for r in rows}
        return {
            pt: [r.expected_row() for r in rows if r.kept and r.serial not in old]
            for pt, rows in self.months[1].listings.items()
        }

    def doc_urls(self, month: int) -> set[str]:
        return {
            r.url for rows in self.months[month].listings.values()
            for r in rows if r.kept and r.url
        }

    def digest(self) -> str:
        h = hashlib.sha256()
        for m in self.months:
            for (pt, p), page in sorted(m.pages(self.base_url).items()):
                h.update(f"{pt}:{p}".encode())
                h.update(page.encode())
        for url in sorted(self.docs):
            h.update(url.encode())
            h.update(self.docs[url])
        return h.hexdigest()


def make_pdf(lines: list[str]) -> bytes:
    """A small, valid one-page PDF whose FlateDecode content stream
    shows ``lines`` one per text line (ASCII, no parentheses)."""
    ops = [b"BT /F1 11 Tf 72 760 Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append(b"0 -14 Td")
        ops.append(b"(" + line.encode("ascii") + b") Tj")
    ops.append(b"ET")
    stream = zlib.compress(b"\n".join(ops), 6)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(stream)
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )
    return bytes(out)


def _page_html(base, pt, page, n_pages, n_rows, rows: list[Listing]) -> str:
    first = (page - 1) * PAGE_SIZE + 1
    trs = []
    for r in rows:
        tds = [f"<td>{html.escape(c)}</td>" for c in r.cells[:-1]]
        if r.onclick:
            link = (
                f"<a href=\"#\" onclick=\"window.open('{html.escape(r.url)}')\">"
                f"{html.escape(r.cells[-1])}</a>"
            )
        else:
            link = f'<a href="{html.escape(r.url)}">{html.escape(r.link_text or "")}</a>'
        tds.append(f"<td>{link}</td>")
        cls = f' class="{r.row_class}"' if r.row_class else ""
        trs.append(f"<tr{cls}>{''.join(tds)}</tr>")
    nav = "".join(
        f'<a href="{base}{URL_PATHS[pt]}?_cur={p}">{p}</a> '
        for p in range(1, n_pages + 1)
    )
    return (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>IRDAI</title></head>"
        f"<body><div class=\"portlet-body\"><div class=\"portlet\">"
        f"<p>Showing {first} to {first + len(rows) - 1} of {n_rows:,} results</p>"
        "<table class=\"table table-striped\"><thead><tr><th>Status</th><th>Details</th>"
        f"</tr></thead><tbody>{''.join(trs)}</tbody></table>"
        f"<div class=\"pagination\">{nav}</div></div></div></body></html>"
    )


class _Gen:
    """Row factory for one site; all randomness flows from one rng."""

    def __init__(self, rng: random.Random, base_url: str) -> None:
        self.rng = rng
        self.base = base_url
        self.serial = 0
        self.docs: dict[str, bytes] = {}
        self.doc_text: dict[str, list[str]] = {}

    def _name(self) -> str:
        r = self.rng
        return " ".join(w.capitalize() for w in r.sample(_WORDS, r.randint(2, 4)))

    def _date(self, two_formats: bool = False) -> str:
        r = self.rng
        y, m, d = r.randint(2012, 2024), r.randint(1, 12), r.randint(1, 28)
        if two_formats:
            return f"{y:04d}-{m:02d}-{d:02d} {d:02d}-{m:02d}-{y:04d}"
        return f"{d:02d}-{m:02d}-{y:04d}"

    def _doc(self, pt: str, ident: str, title: str, devanagari: bool) -> tuple[str, str]:
        """A new document: (absolute URL, link text)."""
        r = self.rng
        stem = f"{ident}-{title.lower().replace(' ', '-')}"
        if devanagari:
            word = r.choice(_DEVANAGARI)
            stem = f"{word}-{ident}"
            link_text = f"{word} {title}"
        else:
            link_text = f"{title} Policy Wording"
        url = f"{self.base}/documents/{pt}/{quote(stem)}.pdf?version=1.{self.serial % 7}&download=true"
        lines = [f"Product {title}", f"Identifier {ident}"] + [
            " ".join(r.choice(_TEXT_WORDS) for _ in range(r.randint(6, 12)))
            for _ in range(r.randint(3, 8))
        ]
        self.docs[url] = make_pdf(lines)
        self.doc_text[url] = lines
        return url, link_text

    def listing(self, pt: str, recent: bool = False) -> Listing:
        r = self.rng
        self.serial += 1
        n = self.serial
        title = self._name()
        insurer = r.choice(_INSURERS)
        year = r.randint(2016, 2024) if not recent else 2025
        fy = f"FY {year}-{(year + 1) % 100:02d}"
        if pt == "life":
            ident = f"{100 + n % 900}L{n:05d}V0{r.randint(1, 3)}"
            vals = [fy, insurer, title, ident, r.choice(["ULIP", "Term", "Endowment", "Pension"]),
                    self._date(two_formats=True),
                    self._date(two_formats=True) if r.random() < 0.3 else "",
                    r.choice(["Protection", "Savings", "Retirement"]),
                    r.choice(["Par", "Non-par"]), r.choice(["Individual", "Group"]),
                    "Modified" if r.random() < 0.1 else ""]
        elif pt == "life_list":
            ident = f"{r.choice(_DEVANAGARI)} {title} {n}"
            vals = [ident, self._date(), r.choice(["Circular", "List", "Notice"])]
        elif pt == "nonlife":
            ident = f"IRDAN{n:03d}RP{n % 97:04d}V0{r.randint(1, 3)}"
            if r.random() < 0.1:
                ident += f"/A{n:04d}V01{year}{(year + 1) % 100:02d}"
            s_no = f"GEN{n}"
            vals = [s_no, s_no if r.random() < 0.05 else fy, insurer, title,
                    r.choice(["Retail", "Commercial", "Motor"]), ident, self._date()]
        else:
            ident = f"{insurer.split()[0].upper()[:4]}HLIP{n:05d}V0{r.randint(1, 3)}"
            vals = [f"{year}-{year + 1}", insurer, ident, title, self._date(),
                    r.choice(["Individual", "Group", "Family Floater"])]
        # archived rows are marked either by the status cell or, with an
        # empty status cell, by the row class
        archived = r.random() < 0.2 and not recent
        by_class = archived and r.random() < 0.5
        status = "" if by_class else ("Archived" if archived else "Non-Archived")
        row_class = "archive" if by_class else ""
        url, link_text = self._doc(pt, f"{pt}{n}", title, pt == "life_list" or r.random() < 0.02)
        onclick = r.random() < 0.03
        if r.random() < 0.03:
            link_text = "dl"  # too short to name the file
        cells = [status, *vals, "Download"]
        return Listing(pt, cells, url, None if onclick else link_text, row_class, onclick,
                       serial=n)

    def dirty(self, pt: str, good: Listing) -> Listing:
        """An F1 (too few cells) or F2 (empty key) row."""
        r = self.rng
        if r.random() < 0.5:
            cells = good.cells[: MIN_CELLS[pt] - 2] + good.cells[-1:]
        else:
            cells = list(good.cells)
            cells[COLUMNS[pt].index(KEY[pt]) + 1] = ""
        url = f"{self.base}/documents/{pt}/dropped-{self.serial}.pdf"
        self.serial += 1
        return Listing(pt, cells, url, "Dropped Row Wording", kept=False, serial=self.serial)


def generate(seed: int, base_url: str, scale: float = 1.0) -> Site:
    """Build both months of the site. ``scale`` multiplies the golden
    row counts of the three large listings (life_list keeps its 54)."""
    rng = random.Random(seed)
    g = _Gen(rng, base_url)
    m0: dict[str, list[Listing]] = {}
    for pt in PRODUCT_TYPES:
        n = GOLDEN_ROWS[pt] if pt == "life_list" else max(60, round(GOLDEN_ROWS[pt] * scale))
        rows: list[Listing] = []
        while len(rows) < n:
            row = g.listing(pt)
            u = rng.random()
            if u < 0.01:
                rows.append(g.dirty(pt, row))
            elif u < 0.02 and rows:
                # the same document listed again under another product
                # row (a re-filed product): a second bronze row, one URL
                prev = rng.choice([x for x in rows[-20:] if x.kept])
                row.url, row.link_text, row.onclick = prev.url, prev.link_text, prev.onclick
                rows.append(row)
            else:
                rows.append(row)
        m0[pt] = rows
    m1: dict[str, list[Listing]] = {}
    for pt, rows in m0.items():
        n_new = max(1, round(len(rows) * 0.03))
        fresh = [g.listing(pt, recent=True) for _ in range(n_new)]
        fresh.insert(n_new // 2, g.dirty(pt, fresh[0]))
        old = []
        for row in rows:
            if row.kept and rng.random() < 0.01:
                # archive flip: same product and URL, new archive state
                flipped = Listing(**{**row.__dict__, "cells": list(row.cells)})
                if flipped.expected_row()["archive_status"] == "Archived":
                    flipped.row_class, flipped.cells[0] = "", "Non-Archived"
                else:
                    flipped.row_class = "archive"
                old.append(flipped)
            else:
                old.append(row)
        m1[pt] = fresh + old
    return Site(base_url, [Month(m0), Month(m1)], g.docs, g.doc_text)


# ---------------------------------------------------------------- server


class _Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.pages: dict[str, int] = {}  # listing request-target -> requests
        self.docs: dict[str, int] = {}   # any other request-target -> requests
        self.bytes_served = 0

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "pages": dict(self.pages), "docs": dict(self.docs),
                "bytes_served": self.bytes_served,
            }


def _handler(state):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # keep the benchmark's stdout clean
            pass

        def _send(self, code: int, body: bytes, ctype: str) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            parts = urlsplit(self.path)
            ctr: _Counters = state["counters"]
            if parts.path == "/__ctl/stats":
                return self._send(200, json.dumps(ctr.snapshot()).encode(), "application/json")
            if parts.path == "/__ctl/reset":
                with ctr.lock:
                    ctr.reset()
                return self._send(200, b"ok", "text/plain")
            if parts.path.startswith("/__ctl/month/"):
                state["month"] = int(parts.path.rsplit("/", 1)[1])
                return self._send(200, b"ok", "text/plain")
            key = unquote(self.path)
            if parts.path in LISTING_PATHS:
                body = state["pages"][state["month"]].get(key)
                ctype, bucket = "text/html; charset=utf-8", "pages"
            else:
                body = state["docs"].get(key)
                ctype, bucket = "application/pdf", "docs"
            with ctr.lock:
                counts = getattr(ctr, bucket)
                counts[key] = counts.get(key, 0) + 1
                ctr.bytes_served += len(body or b"")
            if body is None:
                return self._send(404, b"not found", "text/plain")
            self._send(200, body, ctype)

    return Handler


def path_key(url: str) -> str:
    """The request-target a client sends for ``url``, percent-decoded."""
    p = urlsplit(url)
    return unquote(p.path + ("?" + p.query if p.query else ""))


def serve(seed: int, scale: float) -> None:
    """Child-process entry: bind a loopback port, build the site for that
    base URL, report both as one JSON line on standard output, then serve
    until standard input closes."""
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), BaseHTTPRequestHandler)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    site = generate(seed, base, scale)
    state = {
        "month": 0,
        "counters": _Counters(),
        "docs": {path_key(u): b for u, b in site.docs.items()},
        "pages": [
            {path_key(f"{base}{URL_PATHS[pt]}?_cur={p}"): body.encode("utf-8")
             for (pt, p), body in m.pages(base).items()}
            for m in site.months
        ],
    }
    httpd.RequestHandlerClass = _handler(state)
    httpd.daemon_threads = True
    server = threading.Thread(target=httpd.serve_forever)
    server.start()
    sys.stdout.write(json.dumps({"base_url": base, "digest": site.digest()}) + "\n")
    sys.stdout.flush()
    sys.stdin.buffer.read()  # returns when the parent closes the pipe or dies
    httpd.shutdown()
    server.join()
    httpd.server_close()


class SiteServer:
    """Runs ``serve`` in a child process, and stops it and waits for it."""

    def __init__(self, seed: int, scale: float) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(seed), repr(scale)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        hello = self.proc.stdout.readline()
        self.proc.stdout.close()
        if not hello:
            self.stop()
            raise RuntimeError("site server did not start")
        ready = json.loads(hello)
        self.base_url, self.digest = ready["base_url"], ready["digest"]

    def _get(self, path: str) -> bytes:
        with urlopen(self.base_url + path, timeout=60) as resp:
            return resp.read()

    def stats(self) -> dict:
        return json.loads(self._get("/__ctl/stats"))

    def reset_counters(self) -> None:
        self._get("/__ctl/reset")

    def set_month(self, month: int) -> None:
        self._get(f"/__ctl/month/{month}")

    def stop(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


if __name__ == "__main__":
    serve(int(sys.argv[1]), float(sys.argv[2]))
