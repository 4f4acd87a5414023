"""From-scratch fuzzy multi-locale date parsing kernel.

Replicates the observable behaviour of ``dateparser.parse`` (the reference's
dependency, ``single_value.py:794-868``) for the locales and shapes the
reference test-suite exercises — en/fr/es/pt month names, weekday prefixes,
numeric M/D/Y, 12h/24h times (``tests/test_single_value.py:545-577``) —
plus de/it month-name dates (scope widened per round-1 review), nl/sv
(round 3), ja numeric-unit dates + pl/tr month names (round 4),
ru/fi month names (round 4 widening #2), ko numeric-unit dates +
cs/da month names (round 5), uk/el month names (round 5 widening
#2), ar/th/vi (round 5 widening #3): Arabic-Indic + Persian +
Thai digit folding, Arabic Gregorian month names in both the
transliterated (Egypt/Gulf) and Levantine systems (the two-word
Levantine months match as phrases pre-tokenization), Thai month
names with Buddhist-era year conversion (BE−543 when a Thai month
name anchors the date, dateparser's th behaviour), and Vietnamese
``tháng N`` month-unit dates; and hi (round 5 widening #4):
Devanagari digit folding + month names in both anusvara and conjunct
spellings.  zh dates use the same 年月日/時分秒
characters as ja, so the ja regex covers them.
Full dateparser parity is explicitly out of scope (SURVEY.md §2.3 #13):
notably the Hijri/Jalali calendars, Thai ม.ค.-style dotted month
abbreviations, and per-locale numeric D/M/Y order remain outside the
declared subset.

Month/day-name tables are public CLDR vocabulary.
"""

from __future__ import annotations

import re
import unicodedata
from datetime import datetime
from typing import List, Optional

_MONTHS = {
    # en
    "january": 1, "february": 2, "march": 3, "april": 4, "may": 5, "june": 6,
    "july": 7, "august": 8, "september": 9, "october": 10, "november": 11,
    "december": 12,
    "jan": 1, "feb": 2, "mar": 3, "apr": 4, "jun": 6, "jul": 7, "aug": 8,
    "sep": 9, "sept": 9, "oct": 10, "nov": 11, "dec": 12,
    # fr (accent-folded)
    "janvier": 1, "fevrier": 2, "mars": 3, "avril": 4, "mai": 5, "juin": 6,
    "juillet": 7, "aout": 8, "septembre": 9, "octobre": 10, "novembre": 11,
    "decembre": 12,
    # es
    "enero": 1, "febrero": 2, "marzo": 3, "abril": 4, "mayo": 5, "junio": 6,
    "julio": 7, "agosto": 8, "septiembre": 9, "octubre": 10, "noviembre": 11,
    "diciembre": 12,
    # pt
    "janeiro": 1, "fevereiro": 2, "marco": 3, "maio": 5, "junho": 6,
    "julho": 7, "ago": 8, "setembro": 9, "outubro": 10, "novembro": 11,
    "dezembro": 12, "abr": 4, "fev": 2, "dez": 12, "out": 10, "set": 9,
    # de (accent-folded: märz -> marz)
    "januar": 1, "februar": 2, "marz": 3, "juni": 6, "juli": 7,
    "oktober": 10, "dezember": 12, "okt": 10,
    # it ("novembre" shared with fr above)
    "gennaio": 1, "febbraio": 2, "aprile": 4, "maggio": 5, "giugno": 6,
    "luglio": 7, "settembre": 9, "ottobre": 10, "dicembre": 12,
    # nl ("juni"/"juli"/"oktober" shared with de; r03 widening)
    "januari": 1, "februari": 2, "maart": 3, "mei": 5, "augustus": 8,
    # sv ("mars" shared with fr, "januari"/"februari" with nl)
    "maj": 5, "augusti": 8,
    # pl (r04 widening) — genitive (the form dates use: "5 marca 2024") +
    # nominative; accent-folded (ż->z, ś->s, ą->a, ę->e, ó->o; ł has no
    # combining decomposition so it survives the fold)
    "stycznia": 1, "styczen": 1, "lutego": 2, "luty": 2, "marca": 3,
    "marzec": 3, "kwietnia": 4, "kwiecien": 4, "maja": 5, "czerwca": 6,
    "czerwiec": 6, "lipca": 7, "lipiec": 7, "sierpnia": 8, "sierpien": 8,
    "wrzesnia": 9, "wrzesien": 9, "pazdziernika": 10, "pazdziernik": 10,
    "listopada": 11, "listopad": 11, "grudnia": 12, "grudzien": 12,
    # tr (r04) — folded (ş->s, ğ->g, ü->u); dotless ı does not decompose
    "ocak": 1, "subat": 2, "mart": 3, "nisan": 4, "mayıs": 5, "mayis": 5,
    "haziran": 6, "temmuz": 7, "agustos": 8, "eylul": 9, "ekim": 10,
    "kasım": 11, "kasim": 11, "aralık": 12, "aralik": 12,
    # ru (r04 widening) — genitive (the form dates use: "5 марта 2021") +
    # nominative + 3-letter abbreviations.  NFD-fold note: й decomposes to
    # и+U+0306 and ё to е+U+0308, so keys store the FOLDED forms ("маи" is
    # folded "май"); no other month name carries a combining mark.
    "января": 1, "январь": 1, "янв": 1, "февраля": 2, "февраль": 2, "фев": 2,
    "марта": 3, "март": 3, "мар": 3, "апреля": 4, "апрель": 4, "апр": 4,
    "мая": 5, "маи": 5, "июня": 6, "июнь": 6, "июн": 6,
    "июля": 7, "июль": 7, "июл": 7, "августа": 8, "август": 8, "авг": 8,
    "сентября": 9, "сентябрь": 9, "сен": 9, "октября": 10, "октябрь": 10,
    "окт": 10, "ноября": 11, "ноябрь": 11, "ноя": 11,
    "декабря": 12, "декабрь": 12, "дек": 12,
    # fi (r04 widening) — partitive (dates: "5. maaliskuuta 2021") +
    # nominative; accent-folded (ä->a: kesäkuu -> kesakuu)
    "tammikuuta": 1, "tammikuu": 1, "helmikuuta": 2, "helmikuu": 2,
    "maaliskuuta": 3, "maaliskuu": 3, "huhtikuuta": 4, "huhtikuu": 4,
    "toukokuuta": 5, "toukokuu": 5, "kesakuuta": 6, "kesakuu": 6,
    "heinakuuta": 7, "heinakuu": 7, "elokuuta": 8, "elokuu": 8,
    "syyskuuta": 9, "syyskuu": 9, "lokakuuta": 10, "lokakuu": 10,
    "marraskuuta": 11, "marraskuu": 11, "joulukuuta": 12, "joulukuu": 12,
    # cs (r05 widening) — genitive (the form dates use: "5. brezna 2024") +
    # nominative; accent-folded (ú->u, ě->e, č->c, ř->r, í->i, á->a, ž->z).
    # "listopad"/"listopadu" shares the pl key (same month, 11).
    "ledna": 1, "leden": 1, "unora": 2, "unor": 2, "brezna": 3, "brezen": 3,
    "dubna": 4, "duben": 4, "kvetna": 5, "kveten": 5, "cervna": 6,
    "cerven": 6, "cervence": 7, "cervenec": 7, "srpna": 8, "srpen": 8,
    "zari": 9, "rijna": 10, "rijen": 10, "listopadu": 11, "prosince": 12,
    "prosinec": 12,
    # da (r05) — "januar"/"februar"/"april"/"juni"/"juli"/"august"/
    # "september"/"oktober"/"november"/"december" shared with de/sv/nl;
    # only the genuinely Danish forms are new ("marts", "maj" via sv)
    "marts": 3,
    # uk (r05 widening #2) — genitive (dates: "5 березня 2021") +
    # nominative; no month name carries й/ё so the NFD fold is a no-op
    # (Cyrillic "листопад(а)" is its own key: the pl/cs "listopad" is Latin)
    "січня": 1, "січень": 1, "лютого": 2, "лютий": 2, "березня": 3,
    "березень": 3, "квітня": 4, "квітень": 4, "травня": 5, "травень": 5,
    "червня": 6, "червень": 6, "липня": 7, "липень": 7, "серпня": 8,
    "серпень": 8, "вересня": 9, "вересень": 9, "жовтня": 10, "жовтень": 10,
    "листопада": 11, "листопад": 11, "грудня": 12, "грудень": 12,
    # el (r05 widening #2) — genitive + nominative, tonos-folded (NFD
    # strips the combining acute: ιανουαρίου -> ιανουαριου; μαΐου -> μαιου)
    "ιανουαριου": 1, "ιανουαριος": 1, "φεβρουαριου": 2, "φεβρουαριος": 2,
    "μαρτιου": 3, "μαρτιος": 3, "απριλιου": 4, "απριλιος": 4,
    "μαιου": 5, "μαιος": 5, "ιουνιου": 6, "ιουνιος": 6,
    "ιουλιου": 7, "ιουλιος": 7, "αυγουστου": 8, "αυγουστος": 8,
    "σεπτεμβριου": 9, "σεπτεμβριος": 9, "οκτωβριου": 10, "οκτωβριος": 10,
    "νοεμβριου": 11, "νοεμβριος": 11, "δεκεμβριου": 12, "δεκεμβριος": 12,
    # ar (r05 widening #3) — Gregorian month names, hamza/madda-folded by
    # NFD (أ/آ/إ -> ا + Mn mark, stripped: أبريل -> ابريل, آذار -> اذار,
    # آب -> اب); tashkeel diacritics are Mn and fold away too.  Both naming
    # systems: transliterated (Egypt/Gulf) and the single-word Levantine
    # months; the two-word Levantine months (كانون/تشرين pairs) live in
    # _MONTH_PHRASES because the tokenizer would split them.
    "يناير": 1, "فبراير": 2, "مارس": 3, "ابريل": 4, "مايو": 5, "يونيو": 6,
    "يوليو": 7, "اغسطس": 8, "سبتمبر": 9, "اكتوبر": 10, "نوفمبر": 11,
    "ديسمبر": 12,
    "شباط": 2, "اذار": 3, "نيسان": 4, "ايار": 5, "حزيران": 6, "تموز": 7,
    "اب": 8, "ايلول": 9,
    # hi (r05 widening #4) — Devanagari month names stored NFD-FOLDED:
    # the fold strips Mn marks (virama ्, anusvara ं, nukta ़, and the
    # vowel signs ु ू ै) but keeps the Mc spacing vowels (ा ी ि), so
    # मार्च -> मारच, जून -> जन, अक्टूबर -> अकटबर; both anusvara and
    # conjunct spellings of Sep/Oct/Nov/Dec are listed.
    "जनवरी": 1, "फरवरी": 2, "मारच": 3, "अपरल": 4, "मई": 5, "जन": 6,
    "जलाई": 7, "अगसत": 8, "सितबर": 9, "सितमबर": 9, "अकटबर": 10,
    "अकतबर": 10, "नवबर": 11, "नवमबर": 11, "दिसबर": 12, "दिसमबर": 12,
}

# th (r05 widening #3) — month names stored NFD-FOLDED (Thai vowel signs
# ิ ี ุ ั and thanthakhat ์ are category Mn, so the fold strips them:
# มีนาคม -> มนาคม, กุมภาพันธ์ -> กมภาพนธ).  Kept in a separate table so the
# parser knows a Thai month anchored the date and can convert a
# Buddhist-era year (dateparser's th locale: 2564 BE -> 2021 CE).
_MONTHS_TH = {
    "มกราคม": 1, "กมภาพนธ": 2, "มนาคม": 3, "เมษายน": 4, "พฤษภาคม": 5,
    "มถนายน": 6, "กรกฎาคม": 7, "สงหาคม": 8, "กนยายน": 9, "ตลาคม": 10,
    "พฤศจกายน": 11, "ธนวาคม": 12,
}

# Multi-word month names, matched on the folded string BEFORE tokenization
# (the token splitter would break them apart).  Levantine Arabic pairs:
# the first word alone is ambiguous (كانون is Dec or Jan, تشرين Oct or
# Nov) — the second word disambiguates.  No phrase is a substring of
# another, so first-match-wins scanning is order-independent.
_MONTH_PHRASES = {
    "كانون الثاني": 1, "تشرين الاول": 10, "تشرين الثاني": 11,
    "كانون الاول": 12,
}

# Eastern-Arabic (U+0660-0669), extended/Persian (U+06F0-06F9), Thai
# (U+0E50-0E59), and Devanagari (U+0966-096F) digits -> ASCII, applied before any numeric matching
# (dateparser normalizes these the same way).
_DIGIT_TRANS = {}
for _base in (0x0660, 0x06F0, 0x0E50, 0x0966):
    for _d in range(10):
        _DIGIT_TRANS[_base + _d] = ord("0") + _d

_WEEKDAYS = {
    "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday",
    "mon", "tue", "tues", "wed", "thu", "thur", "thurs", "fri", "sat", "sun",
    "lundi", "mardi", "mercredi", "jeudi", "vendredi", "samedi", "dimanche",
    "lunes", "martes", "miercoles", "jueves", "viernes", "sabado", "domingo",
    "segunda", "terca", "quarta", "quinta", "sexta",
    "montag", "dienstag", "mittwoch", "donnerstag", "freitag", "samstag",
    "sonntag",
    "lunedi", "martedi", "mercoledi", "giovedi", "venerdi", "sabato",
    "domenica",
    "maandag", "dinsdag", "woensdag", "donderdag", "vrijdag", "zaterdag",
    "zondag",
    "mandag", "tisdag", "onsdag", "torsdag", "fredag", "lordag", "sondag",
    "poniedziałek", "wtorek", "sroda", "czwartek", "piatek", "sobota",
    "niedziela",
    "pazartesi", "salı", "sali", "carsamba", "persembe", "cuma", "cumartesi",
    "pazar",
    # ru (folded forms; no weekday carries й/ё except via fold-stable chars)
    "понедельник", "вторник", "среда", "четверг", "пятница", "суббота",
    "воскресенье",
    # fi
    "maanantai", "tiistai", "keskiviikko", "torstai", "perjantai", "lauantai",
    "sunnuntai",
    # cs (r05; folded: pondělí -> pondeli, útery -> utery, čtvrtek -> ctvrtek)
    "pondeli", "utery", "streda", "ctvrtek", "patek", "sobota", "nedele",
    # da (r05; mandag/onsdag/torsdag/fredag/lordag/sondag shared with sv)
    "tirsdag",
    # uk (r05 #2; "п'ятниця" keeps its apostrophe through the tokenizer —
    # unknown tokens are ignored by the parse loop, so it is harmless)
    "понеділок", "вівторок", "середа", "четвер", "пятниця", "субота",
    "неділя",
    # el (r05 #2; tonos-folded)
    "δευτερα", "τριτη", "τεταρτη", "πεμπτη", "παρασκευη", "σαββατο",
    "κυριακη",
}

_FILLER = {"le", "la", "el", "a", "at", "on", "the", "de", "del", "em", "às", "as"}

_TIME_RE = re.compile(r"\b(\d{1,2})[:h](\d{2})(?::(\d{2}))?\s*(am|pm|a\.m\.|p\.m\.)?\b",
                      re.IGNORECASE)
_APM_RE = re.compile(r"\b(am|pm)\b", re.IGNORECASE)

# ja numeric-unit date/time: 2024年3月5日 [14時30分[15秒]] (dateparser's
# ja locale parses unit-suffixed numerals; the 令和/era calendar is out of
# the declared subset)
_JA_RE = re.compile(
    r"(\d{4})年\s*(\d{1,2})月\s*(\d{1,2})日"
    r"(?:\s*(\d{1,2})時(?:\s*(\d{1,2})分)?(?:\s*(\d{1,2})秒)?)?")

# ko numeric-unit date/time (r05): 2024년 3월 5일 [14시 30분[ 15초]] —
# dateparser's ko locale parses the same unit-suffixed numerals; the
# spacing between units is conventional but optional, like ja.
_KO_RE = re.compile(
    r"(\d{4})년\s*(\d{1,2})월\s*(\d{1,2})일"
    r"(?:\s*(\d{1,2})시(?:\s*(\d{1,2})분)?(?:\s*(\d{1,2})초)?)?")


def _fold(s: str) -> str:
    if s.isascii():  # NFD is identity on ASCII and ASCII has no Mn chars
        return s
    return "".join(
        c for c in unicodedata.normalize("NFD", s) if unicodedata.category(c) != "Mn"
    )


# token splitter, precompiled (was re.split's per-call cache lookup)
_SPLIT_RE = re.compile(r"[\s,./\-،]+")


def parse_fuzzy_datetime(value: str, languages: Optional[List[str]] = None) -> Optional[datetime]:
    """Parse a fuzzy date string into a naive datetime (no tz attached).

    ``languages`` is accepted for interface parity; the month tables already
    cover en/fr/es/pt so it only disambiguates nothing here.
    """
    if not value:
        return None
    s = _fold(value).lower().translate(_DIGIT_TRANS)

    # Multi-word month names (Levantine Arabic) must match before the
    # tokenizer splits them; the matched phrase is blanked out so its
    # words can't be re-read as unknown tokens.
    phrase_month = None
    for _phrase, _mnum in _MONTH_PHRASES.items():
        if _phrase in s:
            phrase_month = _mnum
            s = s.replace(_phrase, " ")
            break

    # ko runs on the UNFOLDED value: NFD decomposes Hangul syllables into
    # conjoining jamo (category Lo, which the fold keeps), so the
    # precomposed 년/월/일 in the pattern would never match the folded s
    # cheap contains-guards: _JA_RE cannot match without 年, _KO_RE without
    # 년 (and the KO path's value.lower() alloc is skipped too)
    jm = (_JA_RE.search(s) if "年" in s else None) or (
        _KO_RE.search(value.lower()) if "년" in value else None)
    if jm:
        try:
            return datetime(int(jm.group(1)), int(jm.group(2)),
                            int(jm.group(3)), int(jm.group(4) or 0),
                            int(jm.group(5) or 0), int(jm.group(6) or 0))
        except ValueError:
            return None

    hour = minute = second = 0
    m = _TIME_RE.search(s)
    ampm = None
    if m:
        hour, minute = int(m.group(1)), int(m.group(2))
        second = int(m.group(3) or 0)
        ampm = (m.group(4) or "").replace(".", "") or None
        s = s[: m.start()] + " " + s[m.end():]
    if ampm is None:
        m2 = _APM_RE.search(s)
        if m2:
            ampm = m2.group(1)
            s = s[: m2.start()] + " " + s[m2.end():]
    if ampm == "pm" and hour < 12:
        hour += 12
    elif ampm == "am" and hour == 12:
        hour = 0

    tokens = _SPLIT_RE.split(s)
    tokens = [t for t in tokens if t and t not in _FILLER and t not in _WEEKDAYS]

    month = phrase_month
    thai_month = False
    nums: List[int] = []
    skip_next = False
    for i, t in enumerate(tokens):
        if skip_next:
            skip_next = False
            continue
        # vi month-unit: "tháng 3" (folded "thang 3"; "thg" is the common
        # abbreviation).  The unit word binds the NEXT numeral as the
        # month, mirroring dateparser's vi freshness/absolute parsing.
        if t in ("thang", "thg") and i + 1 < len(tokens) \
                and tokens[i + 1].isdigit():
            v = int(tokens[i + 1])
            if month is None and 1 <= v <= 12:
                month = v
                skip_next = True
            continue
        if t in _MONTHS:
            if month is None:
                month = _MONTHS[t]
        elif t in _MONTHS_TH:
            if month is None:
                month = _MONTHS_TH[t]
                thai_month = True
        elif t.isdigit():
            nums.append(int(t))

    year = day = None
    if month is not None:
        for n in list(nums):
            if n >= 1000:
                year = n
                nums.remove(n)
                break
        for n in list(nums):
            if 1 <= n <= 31 and day is None:
                day = n
                nums.remove(n)
        if year is None and nums:
            y = nums.pop(0)
            year = 2000 + y if y < 50 else 1900 + y
    else:
        # numeric date; dateparser default order for en is M/D/Y
        if len(nums) < 3:
            if len(nums) == 2 and nums[0] >= 1000:
                year, month, day = nums[0], nums[1], 1
            else:
                return None
        else:
            a, b, c = nums[0], nums[1], nums[2]
            if a >= 1000:  # Y-M-D
                year, month, day = a, b, c
            else:  # M/D/Y
                month, day = a, b
                year = c if c >= 1000 else (2000 + c if c < 50 else 1900 + c)
    # Buddhist-era year (th): dateparser converts BE to CE when the Thai
    # locale anchors the parse; here the anchor is a Thai month name.
    # 2400 BE = 1857 CE — a safe era split for web-page dates.
    if thai_month and year is not None and year >= 2400:
        year -= 543
    if year is None or month is None or day is None:
        return None
    try:
        return datetime(year, month, day, hour, minute, second)
    except ValueError:
        return None
