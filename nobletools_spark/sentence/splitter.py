"""Document structuring: sectioning, line merge, sentence split + typing.

Behavior-matched to the reference (pwhalen2/nobletools):
- sentence chunker        tools/SentenceDetector.java:48-150 (offset variant
  adds ';' as a terminator; decimal-point / no-whitespace-follow / known
  abbreviation exceptions)
- section regexes         coder/processor/DocumentProcessor.java:39-41
- region split + merge    DocumentProcessor.java:200-241, mergeLines :357-369
- sentence typing         Prose/Line/Worksheet/Header :286-321
- synoptic detection      tools/SynopticReportDetector.java
- DeID scrub / header     util/DeIDUtils.java:47,58-69
- sentence filters        coder/NobleCoder.java:367-387

Pure Python over strings; executes inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

TYPE_PROSE = "Prose"
TYPE_LINE = "Line"
TYPE_WORKSHEET = "Worksheet"
TYPE_HEADER = "Header"

TYPE_MEDICAL_REPORT = "Medical Report"
TYPE_MEDLINE_RECORD = "Medline Record"

PROSE_PATTERN = re.compile(r".*\b[a-z]+(\.|\?|!)\s+[A-Z][a-z]+\b.*", re.DOTALL)

_SECTION_PATTERNS = {
    TYPE_MEDICAL_REPORT: re.compile(r"^([A-Z/\- ]{5,40}:)\s+(.*)",
                                    re.DOTALL | re.MULTILINE),
    TYPE_MEDLINE_RECORD: re.compile(r"^([A-Z]{2})\s+\-\s+(.*)",
                                    re.DOTALL | re.MULTILINE),
}

_EXCEPTIONS = [
    re.compile(r".*\W(vs|Fig|al|etc)\.", re.DOTALL),
    re.compile(r".*\W[A-Z][a-z]?\.", re.DOTALL),
    re.compile(r".*\W[a-z]\.", re.DOTALL),
]

_MERGE_LAST = re.compile(r".+\s([A-Z]?[a-z]+|\d+),?")
_MERGE_NEXT = re.compile(r"([A-Z]?[a-z]+)\b.+", re.DOTALL)

# only ever used with search(), where a run of one or more non-space
# characters matches exactly when its last one does: the single-character
# forms accept the same lines as SynopticReportDetector's
# [^\s]+[\._]{4,}[^\s]+ / [^\s]+[\t]{1,}[^\s]+ in linear time (the '+'
# forms backtrack quadratically on whitespace-free input)
_SYNOPTIC = [
    re.compile(r"[^\s][\._]{4,}[^\s]"),
    re.compile(r"\(\s*\)"),
    re.compile(r"[^\s]\t+[^\s]"),
]
_SYNOPTIC_PREFIX = re.compile(r"^\s*synoptic\b")
_SYNOPTIC_XLINE = re.compile(r"^_[xX_]_")
_SYNOPTIC_NUMBERED = re.compile(r"^[A-Z0-9]\.\s*.*:\s*(\d|#)$", re.DOTALL)
_SYNOPTIC_COLS = re.compile(r"^[A-Za-z ,'\(\)]+:\s{4,}.*$", re.DOTALL)
_SYNOPTIC_COLS_FP = re.compile(r"^(PROCEDURE|POST-OP).*", re.DOTALL)

_DEID_HEADER_1 = re.compile(r"\[.* de\-identified.*De\-ID.*\]")
_DEID_HEADER_2 = re.compile(r"[SE]_O_[HR]", re.DOTALL)
_DEID_TAG = re.compile(r"\*?\*\*[A-Z\-]+(\[.*\])?")

_LEADING_WS = re.compile(r"^(\s+)\w.*", re.DOTALL)


@dataclass
class SentenceRow:
    text: str
    offset: int          # document-absolute char offset
    sent_type: str


@dataclass
class SectionRow:
    title: str
    title_offset: int
    body_offset: int
    end: int


def is_synoptic(line: str) -> bool:
    for p in _SYNOPTIC:
        if p.search(line):
            return True
    if _SYNOPTIC_PREFIX.search(line.lower()):
        return True
    if _SYNOPTIC_XLINE.search(line):
        return True
    if _SYNOPTIC_NUMBERED.fullmatch(line):
        return True
    if _SYNOPTIC_COLS.fullmatch(line) and not _SYNOPTIC_COLS_FP.fullmatch(line):
        return True
    return False


def is_deid_header(line: str) -> bool:
    t = line.strip()
    return bool(_DEID_HEADER_1.fullmatch(t)) or bool(_DEID_HEADER_2.fullmatch(line))


def filter_deid_tags(line: str) -> str:
    """Replace ``**TAG[...]`` spans with same-length whitespace (offsets kept)."""
    if not line:
        return line
    out = list(line)
    for m in _DEID_TAG.finditer(line):
        for i in range(m.start(), m.end()):
            out[i] = " "
    return "".join(out)


def split_prose(text: str, offset: int = 0,
                semicolon: bool = True) -> list[tuple[str, int]]:
    """SentenceDetector.getSentences(txt, offset): char scan; terminators
    ``.!?`` (+ ``;`` in the offset variant); a period is not terminal when
    followed by a digit or non-whitespace (comma allowed), or when the
    accumulated sentence matches a known-abbreviation pattern. Newlines are
    replaced by spaces *inside* the accumulated sentence (offsets intact)."""
    sentences: list[tuple[str, int]] = []
    buf: list[str] = []
    s_offs = offset
    n = len(text)
    terms = ".!?;" if semicolon else ".!?"
    for i, ch in enumerate(text):
        buf.append(" " if ch in ("\n", "\r") else ch)
        if ch in terms:
            if i + 1 < n and text[i + 1].isdigit():
                continue
            if i + 1 < n and not (text[i + 1].isspace() or text[i + 1] == ","):
                continue
            s = "".join(buf)
            if any(p.fullmatch(s) for p in _EXCEPTIONS):
                continue
            sentences.append((s, s_offs))
            buf = []
            s_offs = offset + i + 1
    tail = "".join(buf)
    if tail.strip():
        sentences.append((tail, s_offs))
    return sentences


def merge_lines(last: str | None, s: str) -> bool:
    """DocumentProcessor.mergeLines:357-369 — wrapped-line heuristic."""
    if last is None:
        return False
    if is_synoptic(last):
        return False
    return bool(_MERGE_LAST.fullmatch(last)) and bool(_MERGE_NEXT.fullmatch(s))


def find_sections(text: str, doc_type: str = TYPE_MEDICAL_REPORT) -> list[SectionRow]:
    """DocumentProcessor.section:381-414 — greedy-body regex with recursive
    sub-section correction."""
    pt = _SECTION_PATTERNS.get(doc_type)
    if pt is None:
        return []
    out: list[SectionRow] = []

    def rec(offs: int, region: str) -> None:
        for mt in pt.finditer(region):
            st = offs + mt.start()
            en = offs + mt.end()
            bst = offs + mt.start(2)
            body = mt.group(2)
            m = pt.search(body)
            if m:
                # greedy body swallowed the next section: clip THIS
                # section's extent, but recurse into the UNCLIPPED body so
                # the following sections are still discovered
                # (DocumentProcessor.section:391-412 resets the matcher
                # over the full body before recursing)
                en = bst + m.start()
            out.append(SectionRow(title=mt.group(1), title_offset=st,
                                  body_offset=bst, end=en))
            rec(bst, body)

    rec(0, text)
    return out


@dataclass
class ParagraphRow:
    start: int
    end: int
    part: str | None = None


_PARAGRAPH = r"(?:\s*\n){2,}"
_DSPACE_PARAGRAPH = r"(?:\s*\n){3,}"
_DIVS = r"\-{5,}|_{5,}|={5,}"
_PARTS = r"PARTS?\s+\d+(\s+AND\s+\d+)?:?"
_PARA_PATTERN = re.compile(f"({_PARAGRAPH}|{_DIVS}|{_PARTS})",
                           re.MULTILINE | re.IGNORECASE)
_DSPACE_PATTERN = re.compile(f"({_DSPACE_PARAGRAPH}|{_DIVS}|{_PARTS})",
                             re.MULTILINE | re.IGNORECASE)
_SINGLE_SPACE = re.compile(r"^[^\n]{5,}\n[^\n]{5,}$", re.MULTILINE | re.DOTALL)
# case-SENSITIVE on purpose: ParagraphProcessor.java's part-label check is
# delim.matches(PARTS) (Java String.matches, no flag) — only the finder
# pattern above is case-insensitive, so "part 1:" splits but gets no label
_PARTS_FULL = re.compile(_PARTS)
_PARA_WS = re.compile(r"^\s+", re.DOTALL | re.MULTILINE)


def find_paragraphs(text: str, sections: list[SectionRow] | None = None,
                    ) -> list[ParagraphRow]:
    """C5: ParagraphProcessor.java:10-88 — paragraphs delimited by blank
    lines (>=2 newlines; >=3 when the text is double-spaced), divider
    rules, or PART n: markers; parsed per section body when sections
    exist, else over the whole text. A delimiter matching PARTS labels the
    paragraph it closes; the trailing (mop-up) paragraph inherits the last
    delimiter's label — byte-for-byte the reference's delim handling."""
    out: list[ParagraphRow] = []

    def parse(body: str, body_offset: int, end_position: int) -> None:
        if not body.strip():
            return
        pt = (_PARA_PATTERN if _SINGLE_SPACE.search(body)
              else _DSPACE_PATTERN)
        offs = 0
        delim: str | None = None
        for mt in pt.finditer(body):
            delim = mt.group()
            wm = _PARA_WS.match(delim)
            ws_buf = len(wm.group()) if wm else 0
            pgh = ParagraphRow(offs + body_offset,
                               mt.start() + body_offset + ws_buf)
            if _PARTS_FULL.fullmatch(delim):
                pgh.part = delim
            out.append(pgh)
            offs = mt.end()
        pgh = ParagraphRow(offs + body_offset, end_position)
        if delim is not None and _PARTS_FULL.fullmatch(delim):
            pgh.part = delim
        out.append(pgh)

    if not sections:
        parse(text, 0, len(text))
    else:
        for sec in sections:
            parse(text[sec.body_offset:sec.end], sec.body_offset, sec.end)
    return out


def process_document(text: str, doc_type: str = TYPE_MEDICAL_REPORT,
                     ) -> tuple[list[SentenceRow], list[SectionRow]]:
    """DocumentProcessor.processReport:200-241 — line-merge regions, prose vs
    line dispatch, worksheet/header typing."""
    sections = find_sections(text, doc_type)
    sentences: list[SentenceRow] = []

    def parse_region(region: str, offs: int) -> None:
        m = _LEADING_WS.fullmatch(region)
        if m:
            pfx = len(m.group(1))
            region = region[pfx:]
            offs += pfx
        rows: list[SentenceRow] = []
        stripped = region.strip()
        if "\n" in stripped or PROSE_PATTERN.fullmatch(stripped):
            for s, o in split_prose(region, offs):
                rows.append(SentenceRow(s, o, TYPE_PROSE))
        else:
            t = TYPE_WORKSHEET if is_synoptic(region) else TYPE_LINE
            rows.append(SentenceRow(region, offs, t))
        # header typing (parseSentences:297-324): the first sentence must be
        # CONTAINED in a section (first section in list order wins —
        # Document.getSection), and then cover that section's title span.
        # NB containment uses the sentence WITH its phantom trailing '\n'
        # pad, so a final region running past the section end is NOT split
        # — reference parity (the docproc differential pinned this).
        if rows:
            first = rows[0]
            first_end = first.offset + len(first.text)
            sec = next((sc for sc in sections
                        if sc.title_offset <= first.offset
                        and first_end <= sc.end), None)
            if sec is not None:
                title_end = sec.title_offset + len(sec.title)
                if (first.offset <= sec.title_offset
                        and title_end <= first_end):
                    en = title_end - first.offset
                    rest = first.text[en:]
                    if rest.strip():
                        head = SentenceRow(first.text[:en], first.offset,
                                           TYPE_HEADER)
                        tail = SentenceRow(rest, first.offset + en,
                                           first.sent_type)
                        rows = [head, tail] + rows[1:]
                    else:
                        first.sent_type = TYPE_HEADER
        sentences.extend(rows)

    offset = 0
    str_offset = 0
    buf: list[str] = []
    last: str | None = None
    for s in text.split("\n"):
        if not merge_lines(last, s):
            if "".join(buf).strip():
                parse_region("".join(buf), str_offset)
            buf = []
            str_offset = offset
        buf.append(s + "\n")
        offset += len(s) + 1
        last = s
    # Java appends '\n' to every split line including the last, so the final
    # region may carry a phantom trailing newline past EOF — kept for parity
    # (it becomes a trailing space in prose sentences; offsets unaffected).
    if buf and "".join(buf).strip():
        parse_region("".join(buf), str_offset)

    return sentences, sections


def filter_sentence(text: str, sent_type: str,
                    filter_header: bool = True, filter_worksheet: bool = False,
                    filter_deid: bool = True) -> bool:
    """NobleCoder.filterSentence:367-387 — True means skip."""
    if len(text) == 0:
        return True
    if filter_header and sent_type == TYPE_HEADER:
        return True
    if filter_worksheet and sent_type == TYPE_WORKSHEET:
        return True
    if filter_deid and is_deid_header(text):
        return True
    return False
