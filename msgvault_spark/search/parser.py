"""Gmail-style search query parser (pure Python, no Spark dependency).

Semantics match the reference parser (internal/search/parser.go:113-410):
operators from: to: cc: bcc: subject: label:/l: has:attachment before: after:
older_than: newer_than: larger: smaller:, quoted phrases, op:"quoted value"
tokenization, bare-domain @-prefixing with a TLD allowlist, relative dates
(7d/2w/1m/1y) and size literals (5M/100K/1G).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class ParsedQuery:
    """The parsed-search IR (reference parser.go:12-27)."""

    text_terms: list[str] = field(default_factory=list)
    from_addrs: list[str] = field(default_factory=list)
    to_addrs: list[str] = field(default_factory=list)
    cc_addrs: list[str] = field(default_factory=list)
    bcc_addrs: list[str] = field(default_factory=list)
    subject_terms: list[str] = field(default_factory=list)
    labels: list[str] = field(default_factory=list)
    has_attachment: bool | None = None
    before_date: datetime | None = None
    after_date: datetime | None = None
    larger_than: int | None = None
    smaller_than: int | None = None
    account_ids: list[int] = field(default_factory=list)
    hide_deleted: bool = False

    def is_empty(self) -> bool:
        return not (
            self.text_terms
            or self.from_addrs
            or self.to_addrs
            or self.cc_addrs
            or self.bcc_addrs
            or self.subject_terms
            or self.labels
            or self.has_attachment is not None
            or self.before_date is not None
            or self.after_date is not None
            or self.larger_than is not None
            or self.smaller_than is not None
            or self.account_ids
        )

    def has_operators(self) -> bool:
        return bool(
            self.from_addrs
            or self.to_addrs
            or self.cc_addrs
            or self.bcc_addrs
            or self.subject_terms
            or self.labels
            or self.has_attachment is not None
            or self.before_date is not None
            or self.after_date is not None
            or self.larger_than is not None
            or self.smaller_than is not None
        )


# Generic TLDs recognized for bare-domain detection (reference
# parser.go:76-103); any 2-letter alphabetic suffix counts as a ccTLD.
_KNOWN_GTLDS = frozenset(
    """com org net edu gov mil int info biz name mobi top xyz app dev shop
    online site store tech cloud blog space click vip cfd agency business
    center company digital email media network services solutions studio
    team work world zone design events expert finance health host legal
    live marketing news support trade web asia""".split()
)


def _is_known_tld(s: str) -> bool:
    if len(s) == 2:
        return s.isalpha() and s == s.lower()
    return s in _KNOWN_GTLDS


def _looks_like_domain(v: str) -> bool:
    dot = v.rfind(".")
    if dot in (-1, 0) or dot == len(v) - 1:
        return False
    return _is_known_tld(v[dot + 1 :])


def normalize_addr(v: str) -> str:
    """Lowercase; prefix bare domains with '@' so engines treat them as
    domain patterns; dotted local parts (john.doe) stay unchanged."""
    v = v.lower()
    if "@" not in v and _looks_like_domain(v):
        v = "@" + v
    return v


def _unquote(s: str) -> str:
    if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
        return s[1:-1]
    return s


def _is_quoted_phrase(token: str) -> bool:
    return len(token) > 2 and token[0] == '"' and token[-1] == '"'


def tokenize(query: str) -> list[str]:
    """Split into tokens, preserving "quoted phrases" and keeping
    op:"quoted value" together as one token (reference parser.go:250-312)."""
    tokens: list[str] = []
    current: list[str] = []
    in_quotes = False
    quote_char = ""
    after_colon = False
    op_quoted = False

    for ch in query:
        if ch in ('"', "'") and not in_quotes:
            in_quotes = True
            quote_char = ch
            op_quoted = after_colon
            if not after_colon and current:
                tokens.append("".join(current))
                current = []
            if after_colon:
                current.append(ch)
            after_colon = False
        elif in_quotes and ch == quote_char:
            in_quotes = False
            if op_quoted:
                current.append(ch)
                tokens.append("".join(current))
                current = []
            elif current:
                tokens.append('"' + "".join(current) + '"')
                current = []
            quote_char = ""
            op_quoted = False
        elif ch == " " and not in_quotes:
            if current:
                tokens.append("".join(current))
                current = []
            after_colon = False
        else:
            current.append(ch)
            after_colon = ch == ":"

    if current:
        # unterminated quote: emit as plain token rather than dropping input
        tokens.append("".join(current))
    return tokens


_DATE_FORMATS = ("%Y-%m-%d", "%Y/%m/%d", "%m/%d/%Y", "%d/%m/%Y")


def _parse_date(value: str) -> datetime | None:
    value = value.strip()
    for fmt in _DATE_FORMATS:
        try:
            return datetime.strptime(value, fmt)
        except ValueError:
            continue
    return None


_REL_RE = re.compile(r"^(\d+)([dwmy])$")


def _add_months(dt: datetime, months: int) -> datetime:
    """Calendar-aware month shift matching Go's AddDate normalization
    (Jan 31 - 1m → Dec 31; overflow days roll forward)."""
    y = dt.year
    m = dt.month + months
    y += (m - 1) // 12
    m = (m - 1) % 12 + 1
    # Go normalizes out-of-range days by rolling into the next month
    import calendar

    last = calendar.monthrange(y, m)[1]
    if dt.day > last:
        overflow = dt.day - last
        m += 1
        if m > 12:
            m = 1
            y += 1
        return dt.replace(year=y, month=m, day=overflow)
    return dt.replace(year=y, month=m)


def _parse_relative_date(value: str, now: datetime) -> datetime | None:
    m = _REL_RE.match(value.strip().lower())
    if not m:
        return None
    amount, unit = int(m.group(1)), m.group(2)
    if unit == "d":
        from datetime import timedelta

        return now - timedelta(days=amount)
    if unit == "w":
        from datetime import timedelta

        return now - timedelta(days=amount * 7)
    if unit == "m":
        return _add_months(now, -amount)
    if unit == "y":
        return _add_months(now, -12 * amount)
    return None


_SIZE_MULT = (
    ("KB", 1024),
    ("MB", 1024 * 1024),
    ("GB", 1024 * 1024 * 1024),
    ("K", 1024),
    ("M", 1024 * 1024),
    ("G", 1024 * 1024 * 1024),
)


def parse_size(value: str) -> int | None:
    """'5M' / '100K' / '1G' / plain bytes → int bytes (parser.go:379-406)."""
    value = value.strip().upper()
    for suffix, mult in _SIZE_MULT:
        if value.endswith(suffix):
            num = value[: -len(suffix)]
            try:
                return int(float(num) * mult)
            except ValueError:
                return None
    try:
        return int(value)
    except ValueError:
        return None


def uses_relative_date(query: str) -> bool:
    """True when ``query`` has an older_than:/newer_than: operator, whose
    date parse_query resolves against the current time."""
    return any(
        not _is_quoted_phrase(t)
        and t.split(":", 1)[0].lower() in ("older_than", "newer_than")
        for t in tokenize(query)
        if ":" in t
    )


def parse_query(query: str, now: datetime | None = None) -> ParsedQuery:
    """Parse a Gmail-like search string (reference Parse, parser.go:198-228)."""
    q = ParsedQuery()
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)

    def _addr(target: list[str]):
        return lambda v: target.append(normalize_addr(v))

    def _set_has(v: str):
        if v.lower() in ("attachment", "attachments"):
            q.has_attachment = True

    def _set_before(v: str):
        d = _parse_date(v)
        if d:
            q.before_date = d

    def _set_after(v: str):
        d = _parse_date(v)
        if d:
            q.after_date = d

    def _set_older(v: str):
        d = _parse_relative_date(v, now)
        if d:
            q.before_date = d

    def _set_newer(v: str):
        d = _parse_relative_date(v, now)
        if d:
            q.after_date = d

    def _set_larger(v: str):
        s = parse_size(v)
        if s is not None:
            q.larger_than = s

    def _set_smaller(v: str):
        s = parse_size(v)
        if s is not None:
            q.smaller_than = s

    def _add_label(v: str):
        v = v.strip()
        if v:
            q.labels.append(v)

    handlers = {
        "from": _addr(q.from_addrs),
        "to": _addr(q.to_addrs),
        "cc": _addr(q.cc_addrs),
        "bcc": _addr(q.bcc_addrs),
        "subject": q.subject_terms.append,
        "label": _add_label,
        "l": _add_label,
        "has": _set_has,
        "before": _set_before,
        "after": _set_after,
        "older_than": _set_older,
        "newer_than": _set_newer,
        "larger": _set_larger,
        "smaller": _set_smaller,
    }

    for token in tokenize(query):
        if _is_quoted_phrase(token):
            q.text_terms.append(_unquote(token))
            continue
        idx = token.find(":")
        if idx != -1:
            op = token[:idx].lower()
            value = _unquote(token[idx + 1 :])
            handler = handlers.get(op)
            if handler is not None:
                handler(value)
            else:
                q.text_terms.append(token)
            continue
        q.text_terms.append(token)

    return q
