"""Seeded synthetic MediaWiki export dumps (export-0.11 shape).

The benchmark owns its generator so that its inputs stay fixed while the
program's own tools change. Every page has 1-3 revisions with a 2-6 KB text
payload and 3-12 wikilinks per revision; about 5% of pages are redirects and
10% sit in namespace 1, so every stage of the import has real work.
"""

from __future__ import annotations

import bz2
import os
import random
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

_WORDS = (
    "spark catalyst tungsten shuffle partition parquet arrow executor task "
    "stage plan codegen broadcast window aggregate join stream watermark "
    "wikipedia article revision contributor namespace redirect template "
    "history diff edit rollback patrol sitemap category infobox citation"
).split()

_HEADER = (
    '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/" '
    'version="0.11" xml:lang="en">\n'
)


@dataclass(frozen=True)
class Dump:
    """What a generated dump holds: the truth the import is checked against."""

    files: list[str]
    bytes: int
    pages: int
    revisions: int


def _page_xml(rng: random.Random, page_id: int) -> tuple[str, int]:
    n_rev = rng.randint(1, 3)
    title = f"Article {page_id} ({rng.choice(_WORDS)})"
    ns = 0 if rng.random() < 0.9 else 1
    redirect = (
        f'<redirect title="Article {rng.randrange(page_id + 1)}" />'
        if rng.random() < 0.05
        else ""
    )
    revs = []
    for r in range(n_rev):
        body = " ".join(rng.choices(_WORDS, k=rng.randint(300, 900)))
        links = " ".join(
            f"[[Article {rng.randrange(max(page_id, 1))}"
            + rng.choice(["]]", "|label]]", "#History]]"])
            for _ in range(rng.randint(3, 12))
        )
        body = f"{body} {links}"
        if rng.random() < 0.3:
            contributor = (
                f"<contributor><ip>10.0.{rng.randrange(256)}.{rng.randrange(256)}"
                "</ip></contributor>"
            )
        else:
            uid = rng.randrange(5000)
            contributor = (
                f"<contributor><username>user{uid}</username><id>{uid}</id>"
                "</contributor>"
            )
        minor = "<minor />" if rng.random() < 0.2 else ""
        ts = (
            f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
            f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"
        )
        revs.append(
            f"""    <revision>
      <id>{page_id * 10 + r}</id>
      <parentid>{page_id * 10 + r - 1}</parentid>
      <timestamp>{ts}</timestamp>
      {contributor}
      {minor}
      <comment>{rng.choice(_WORDS)} edit</comment>
      <model>wikitext</model>
      <format>text/x-wiki</format>
      <text bytes="{len(body)}" xml:space="preserve">{body}</text>
      <sha1>{rng.getrandbits(128):032x}</sha1>
    </revision>"""
        )
    xml = f"""  <page>
    <title>{title}</title>
    <ns>{ns}</ns>
    <id>{page_id}</id>
    {redirect}
{chr(10).join(revs)}
  </page>
"""
    return xml, n_rev


def generate(out_dir: str, total_mb: float, n_files: int, seed: int) -> Dump:
    """Write ``n_files`` plain XML shards totalling about ``total_mb`` MiB.

    The same (total_mb, n_files, seed) always gives the same bytes.
    """
    os.makedirs(out_dir, exist_ok=True)
    per_file = total_mb * 1024 * 1024 / n_files
    files, total, pages, revisions, page_id = [], 0, 0, 0, 0
    for i in range(n_files):
        rng = random.Random(f"{seed}:{i}")
        path = os.path.join(out_dir, f"dump_{i:02d}.xml")
        with open(path, "w") as f:
            written = f.write(_HEADER)
            while written < per_file:
                page_id += 1
                xml, n_rev = _page_xml(rng, page_id)
                written += f.write(xml)
                pages += 1
                revisions += n_rev
            written += f.write("</mediawiki>\n")
        files.append(path)
        total += written
    return Dump(files, total, pages, revisions)


def compress_bz2(dump: Dump, out_dir: str) -> list[str]:
    """Write a ``.xml.bz2`` twin of every shard (level 9, as real dumps ship).

    ``bz2.compress`` releases the interpreter lock, so threads overlap.
    """
    os.makedirs(out_dir, exist_ok=True)

    def one(path: str) -> str:
        dst = os.path.join(out_dir, os.path.basename(path) + ".bz2")
        with open(path, "rb") as src, open(dst, "wb") as out:
            out.write(bz2.compress(src.read(), 9))
        return dst

    with ThreadPoolExecutor(max_workers=4) as pool:
        return list(pool.map(one, dump.files))
