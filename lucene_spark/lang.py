"""Language analysis chains — the reference's French / German / Spanish
default analyzers re-expressed as per-token pure functions over a
Latin-1-aware StandardTokenizer pattern.

Chains (each mirrors the reference analyzer's createComponents order):

- French  (analysis/fr/FrenchAnalyzer.java:129-136): ElisionFilter
  (DEFAULT_ARTICLES, case-insensitive prefix strip at the first apostrophe)
  -> LowerCaseFilter -> StopFilter (snowball french_stop.txt) ->
  FrenchLightStemFilter (the UniNE light stemmer,
  analysis/fr/FrenchLightStemmer.java — Savoy, "Light Stemming Approaches
  for the French, Portuguese, German and Hungarian Languages").
- German  (analysis/de/GermanAnalyzer.java:121-128): LowerCaseFilter ->
  StopFilter (german_stop.txt) -> GermanNormalizationFilter (the 3-state
  umlaut/e-deletion FSM, analysis/de/GermanNormalizationFilter.java) ->
  GermanLightStemFilter (analysis/de/GermanLightStemmer.java).
- Spanish (analysis/es/SpanishAnalyzer.java:113-119): LowerCaseFilter ->
  StopFilter (spanish_stop.txt) -> SpanishLightStemFilter
  (analysis/es/SpanishLightStemmer.java — Savoy, CLEF-2001).

Stopped tokens are emitted as :data:`STOP_HOLE` (a NUL byte no tokenizer
output can produce) and removed by the invert stage's stopword filter,
which preserves the reference's position-increment holes AND its
stop-before-stem order: a stem that happens to equal a stopword's surface
form is never re-stopped (the reference's StopFilter runs before the
stemmer and never sees stems). Stopword lists are the reference's
snowball resource data (analysis/snowball/{french,german,spanish}_stop
.txt), embedded verbatim as data for parity.

All chains are engine-portable: LANG_TOKEN_RE runs under Python ``re``,
Java regex and RE2 (DuckDB), like analysis.TOKEN_RE.
"""

from __future__ import annotations

import re
from typing import List

#: stopped-token marker: survives to the invert stage, where it is the one
#: entry of the implied stopset for language chains (build._invert_batches)
STOP_HOLE = "\x00"

# Latin-1 letter ranges (excludes the x/division signs at 0xD7/0xF7);
# apostrophe U+0027 and U+2019 are MidLetter like the UAX#29 grammar.
_L = "A-Za-z\u00C0-\u00D6\u00D8-\u00F6\u00F8-\u00FF"
_NUM_RUN = r"[0-9](?:(?:_*|[.,;'])[0-9])*"
_ALPHA_RUN = (
    "[" + _L + "](?:(?:_*|[:.'\u2019])[" + _L + "])*"
)
LANG_TOKEN_RE = r"(?:_*(?:" + _NUM_RUN + r"|" + _ALPHA_RUN + r"))+_*"
_LANG_TOKEN_PATTERN = re.compile(LANG_TOKEN_RE)

#: FrenchAnalyzer.DEFAULT_ARTICLES (analysis/fr/FrenchAnalyzer.java:57-63)
FRENCH_ARTICLES = frozenset(
    ("l", "m", "t", "qu", "n", "s", "j", "d", "c",
     "jusqu", "quoiqu", "lorsqu", "puisqu")
)

#: snowball french_stop.txt (reference resource data, embedded for parity)
FRENCH_STOP = frozenset((
    "ai", "aie", "aient", "aies", "ait", "au", "aurai", "auraient", "aurais",
    "aurait", "aurez", "auriez", "aurions", "aurons", "auront", "aux",
    "avaient", "avais", "avait", "avec", "avez", "aviez", "avons", "ayant",
    "ayez", "ayons", "c", "ce", "ceci", "cela", "celà", "ces", "cet",
    "cette", "d", "dans", "de", "des", "du", "elle", "en", "es", "et", "eu",
    "eue", "eues", "eurent", "eus", "eusse", "eussent", "eusses", "eussiez",
    "eussions", "eut", "eux", "eûmes", "eût", "eûtes", "furent", "fus",
    "fusse", "fussent", "fusses", "fussiez", "fussions", "fut", "fûmes",
    "fûtes", "ici", "il", "ils", "j", "je", "l", "la", "le", "les", "leur",
    "leurs", "lui", "m", "ma", "mais", "me", "mes", "moi", "mon", "même",
    "n", "ne", "nos", "notre", "nous", "on", "ont", "ou", "par", "pas",
    "pour", "qu", "que", "quel", "quelle", "quelles", "quels", "qui", "s",
    "sa", "sans", "se", "sera", "serai", "seraient", "serais", "serait",
    "seras", "serez", "seriez", "serions", "serons", "seront", "ses", "soi",
    "soient", "sois", "soit", "sont", "soyez", "soyons", "suis", "sur", "t",
    "ta", "te", "tes", "toi", "ton", "tu", "un", "une", "vos", "votre",
    "vous", "y", "à", "étaient", "étais", "était", "étant", "étiez",
    "étions", "étée", "étées", "êtes",
))

#: snowball german_stop.txt
GERMAN_STOP = frozenset((
    "aber", "alle", "allem", "allen", "aller", "alles", "als", "also", "am",
    "an", "ander", "andere", "anderem", "anderen", "anderer", "anderes",
    "anderm", "andern", "anderr", "anders", "auch", "auf", "aus", "bei",
    "bin", "bis", "bist", "da", "damit", "dann", "das", "dasselbe", "dazu",
    "daß", "dein", "deine", "deinem", "deinen", "deiner", "deines", "dem",
    "demselben", "den", "denn", "denselben", "der", "derer", "derselbe",
    "derselben", "des", "desselben", "dessen", "dich", "die", "dies",
    "diese", "dieselbe", "dieselben", "diesem", "diesen", "dieser", "dieses",
    "dir", "doch", "dort", "du", "durch", "ein", "eine", "einem", "einen",
    "einer", "eines", "einig", "einige", "einigem", "einigen", "einiger",
    "einiges", "einmal", "er", "es", "etwas", "euch", "euer", "eure",
    "eurem", "euren", "eurer", "eures", "für", "gegen", "gewesen", "hab",
    "habe", "haben", "hat", "hatte", "hatten", "hier", "hin", "hinter",
    "ich", "ihm", "ihn", "ihnen", "ihr", "ihre", "ihrem", "ihren", "ihrer",
    "ihres", "im", "in", "indem", "ins", "ist", "jede", "jedem", "jeden",
    "jeder", "jedes", "jene", "jenem", "jenen", "jener", "jenes", "jetzt",
    "kann", "kein", "keine", "keinem", "keinen", "keiner", "keines",
    "können", "könnte", "machen", "man", "manche", "manchem", "manchen",
    "mancher", "manches", "mein", "meine", "meinem", "meinen", "meiner",
    "meines", "mich", "mir", "mit", "muss", "musste", "nach", "nicht",
    "nichts", "noch", "nun", "nur", "ob", "oder", "ohne", "sehr", "sein",
    "seine", "seinem", "seinen", "seiner", "seines", "selbst", "sich", "sie",
    "sind", "so", "solche", "solchem", "solchen", "solcher", "solches",
    "soll", "sollte", "sondern", "sonst", "um", "und", "uns", "unse",
    "unsem", "unsen", "unser", "unses", "unter", "viel", "vom", "von", "vor",
    "war", "waren", "warst", "was", "weg", "weil", "weiter", "welche",
    "welchem", "welchen", "welcher", "welches", "wenn", "werde", "werden",
    "wie", "wieder", "will", "wir", "wird", "wirst", "wo", "wollen",
    "wollte", "während", "würde", "würden", "zu", "zum", "zur", "zwar",
    "zwischen", "über",
))

#: snowball spanish_stop.txt
SPANISH_STOP = frozenset((
    "a", "al", "algo", "algunas", "algunos", "ante", "antes", "como", "con",
    "contra", "cual", "cuando", "de", "del", "desde", "donde", "durante",
    "e", "el", "ella", "ellas", "ellos", "en", "entre", "era", "erais",
    "eran", "eras", "eres", "es", "esa", "esas", "ese", "eso", "esos",
    "esta", "estaba", "estabais", "estaban", "estabas", "estad", "estada",
    "estadas", "estado", "estados", "estamos", "estando", "estar",
    "estaremos", "estará", "estarán", "estarás", "estaré", "estaréis",
    "estaría", "estaríais", "estaríamos", "estarían", "estarías", "estas",
    "este", "estemos", "esto", "estos", "estoy", "estuve", "estuviera",
    "estuvierais", "estuvieran", "estuvieras", "estuvieron", "estuviese",
    "estuvieseis", "estuviesen", "estuvieses", "estuvimos", "estuviste",
    "estuvisteis", "estuviéramos", "estuviésemos", "estuvo", "está",
    "estábamos", "estáis", "están", "estás", "esté", "estéis", "estén",
    "estés", "fue", "fuera", "fuerais", "fueran", "fueras", "fueron",
    "fuese", "fueseis", "fuesen", "fueses", "fui", "fuimos", "fuiste",
    "fuisteis", "fuéramos", "fuésemos", "ha", "habida", "habidas", "habido",
    "habidos", "habiendo", "habremos", "habrá", "habrán", "habrás", "habré",
    "habréis", "habría", "habríais", "habríamos", "habrían", "habrías",
    "habéis", "había", "habíais", "habíamos", "habían", "habías", "han",
    "has", "hasta", "hay", "haya", "hayamos", "hayan", "hayas", "hayáis",
    "he", "hemos", "hube", "hubiera", "hubierais", "hubieran", "hubieras",
    "hubieron", "hubiese", "hubieseis", "hubiesen", "hubieses", "hubimos",
    "hubiste", "hubisteis", "hubiéramos", "hubiésemos", "hubo", "la", "las",
    "le", "les", "lo", "los", "me", "mi", "mis", "mucho", "muchos", "muy",
    "más", "mí", "mía", "mías", "mío", "míos", "nada", "ni", "no", "nos",
    "nosotras", "nosotros", "nuestra", "nuestras", "nuestro", "nuestros",
    "o", "os", "otra", "otras", "otro", "otros", "para", "pero", "poco",
    "por", "porque", "que", "quien", "quienes", "qué", "se", "sea", "seamos",
    "sean", "seas", "seremos", "será", "serán", "serás", "seré", "seréis",
    "sería", "seríais", "seríamos", "serían", "serías", "seáis", "sido",
    "siendo", "sin", "sobre", "sois", "somos", "son", "soy", "su", "sus",
    "suya", "suyas", "suyo", "suyos", "sí", "también", "tanto", "te",
    "tendremos", "tendrá", "tendrán", "tendrás", "tendré", "tendréis",
    "tendría", "tendríais", "tendríamos", "tendrían", "tendrías", "tened",
    "tenemos", "tenga", "tengamos", "tengan", "tengas", "tengo", "tengáis",
    "tenida", "tenidas", "tenido", "tenidos", "teniendo", "tenéis", "tenía",
    "teníais", "teníamos", "tenían", "tenías", "ti", "tiene", "tienen",
    "tienes", "todo", "todos", "tu", "tus", "tuve", "tuviera", "tuvierais",
    "tuvieran", "tuvieras", "tuvieron", "tuviese", "tuvieseis", "tuviesen",
    "tuvieses", "tuvimos", "tuviste", "tuvisteis", "tuviéramos",
    "tuviésemos", "tuvo", "tuya", "tuyas", "tuyo", "tuyos", "tú", "un",
    "una", "uno", "unos", "vosotras", "vosotros", "vuestra", "vuestras",
    "vuestro", "vuestros", "y", "ya", "yo", "él", "éramos",
))

# ---------------------------------------------------------------------------
# Token-level filters
# ---------------------------------------------------------------------------


def elide(token: str, articles: frozenset = FRENCH_ARTICLES) -> str:
    """ElisionFilter (analysis/util/ElisionFilter.java:49-66): strip the
    prefix before the FIRST apostrophe (U+0027 or U+2019) when it is in
    the language's article set — case-insensitively, like the analyzers'
    CharArraySet(..., true)."""
    for i, ch in enumerate(token):
        if ch == "'" or ch == "’":
            if token[:i].lower() in articles:
                return token[i + 1:]
            return token
    return token


def german_normalize(token: str) -> str:
    """GermanNormalizationFilter's 3-state FSM
    (analysis/de/GermanNormalizationFilter.java:40-103): ss for eszett,
    umlauts fold to their base vowel, and an 'e' is deleted when the
    previous character put the FSM in the umlaut state (an a/o, or a 'u'
    not preceded by a vowel/q/y)."""
    out: List[str] = []
    state = 0  # 0=N ordinary, 1=V vowel-guard, 2=U umlaut (e-deletion)
    for c in token:
        if c in "ao":
            out.append(c)
            state = 2
        elif c == "u":
            out.append(c)
            state = 2 if state == 0 else 1
        elif c == "e":
            if state == 2:
                state = 1
                continue  # the deleted 'e'
            out.append(c)
            state = 1
        elif c in "iqy":
            out.append(c)
            state = 1
        elif c == "ä":
            out.append("a")
            state = 1
        elif c == "ö":
            out.append("o")
            state = 1
        elif c == "ü":
            out.append("u")
            state = 1
        elif c == "ß":
            out.append("ss")
            state = 0
        else:
            out.append(c)
            state = 0
    return "".join(out)


# ---------------------------------------------------------------------------
# Light stemmers (UniNE / Savoy) — faithful per-rule transcriptions
# ---------------------------------------------------------------------------

_FR_FOLD = str.maketrans(
    "àáâôèéêùûîç",
    "aaaoeeeuuic",
)


def _fr_norm(w: str) -> str:
    """FrenchLightStemmer.norm (analysis/fr/FrenchLightStemmer.java:
    211-249): accent fold, collapse adjacent repeated letters, drop a
    trailing -ie, then the r/e/e/double-letter tail."""
    if len(w) > 4:
        w = w.translate(_FR_FOLD)
        out = [w[0]]
        for ch in w[1:]:
            if ch == out[-1] and ch.isalpha():
                continue
            out.append(ch)
        w = "".join(out)
    if len(w) > 4 and w.endswith("ie"):
        w = w[:-2]
    if len(w) > 4:
        if w[-1] == "r":
            w = w[:-1]
        if w[-1] == "e":
            w = w[:-1]
        if w[-1] == "e":
            w = w[:-1]
        if len(w) > 1 and w[-1] == w[-2] and w[-1].isalpha():
            w = w[:-1]
    return w


def french_light_stem(w: str) -> str:
    """FrenchLightStemmer.stem (analysis/fr/FrenchLightStemmer.java:66-208)
    — the UniNE rule cascade, rule for rule; tested against the
    reference's frlight.txt vocabulary."""
    if len(w) > 5 and w[-1] == "x":
        if w[-3] == "a" and w[-2] == "u" and w[-4] != "e":
            w = w[:-2] + "lx"
        w = w[:-1]
    if len(w) > 3 and w[-1] == "x":
        w = w[:-1]
    if len(w) > 3 and w[-1] == "s":
        w = w[:-1]
    if len(w) > 9 and w.endswith("issement"):
        return _fr_norm(w[:-7] + "r")
    if len(w) > 8 and w.endswith("issant"):
        return _fr_norm(w[:-5] + "r")
    if len(w) > 6 and w.endswith("ement"):
        w = w[:-4]
        if len(w) > 3 and w.endswith("ive"):
            w = w[:-2] + "f"
        return _fr_norm(w)
    if len(w) > 11 and w.endswith("ficatrice"):
        return _fr_norm(w[:-5][:-2] + "er")
    if len(w) > 10 and w.endswith("ficateur"):
        return _fr_norm(w[:-4][:-2] + "er")
    if len(w) > 9 and w.endswith("catrice"):
        return _fr_norm(w[:-3][:-4] + "quer")
    if len(w) > 8 and w.endswith("cateur"):
        return _fr_norm(w[:-2][:-4] + "quer")
    if len(w) > 8 and w.endswith("atrice"):
        return _fr_norm(w[:-4][:-2] + "er")
    if len(w) > 7 and w.endswith("ateur"):
        return _fr_norm(w[:-3][:-2] + "er")
    if len(w) > 6 and w.endswith("trice"):
        w = w[:-4] + "eur"
    if len(w) > 5 and w.endswith("ième"):
        return _fr_norm(w[:-4])
    if len(w) > 7 and w.endswith("teuse"):
        return _fr_norm(w[:-3] + "r")
    if len(w) > 6 and w.endswith("teur"):
        return _fr_norm(w[:-2] + "r")
    if len(w) > 5 and w.endswith("euse"):
        return _fr_norm(w[:-2])
    if len(w) > 8 and w.endswith("ère"):
        return _fr_norm(w[:-3] + "er")
    if len(w) > 7 and w.endswith("ive"):
        return _fr_norm(w[:-2] + "f")
    if len(w) > 4 and (w.endswith("folle") or w.endswith("molle")):
        return _fr_norm(w[:-3] + "u")
    if len(w) > 9 and w.endswith("nnelle"):
        return _fr_norm(w[:-5])
    if len(w) > 9 and w.endswith("nnel"):
        return _fr_norm(w[:-3])
    if len(w) > 4 and w.endswith("ète"):
        w = w[:-3] + "et"
    if len(w) > 8 and w.endswith("ique"):
        w = w[:-4]
    if len(w) > 8 and w.endswith("esse"):
        return _fr_norm(w[:-3])
    if len(w) > 7 and w.endswith("inage"):
        return _fr_norm(w[:-3])
    if len(w) > 9 and w.endswith("isation"):
        w = w[:-7]
        if len(w) > 5 and w.endswith("ual"):
            w = w[:-2] + "el"
        return _fr_norm(w)
    if len(w) > 9 and w.endswith("isateur"):
        return _fr_norm(w[:-7])
    if len(w) > 8 and w.endswith("ation"):
        return _fr_norm(w[:-5])
    if len(w) > 8 and w.endswith("ition"):
        return _fr_norm(w[:-5])
    return _fr_norm(w)


_DE_FOLD = str.maketrans(
    "äàáâöòóô"
    "ïìíîüùúû",
    "aaaaoooo" "iiiiuuuu",
)
_DE_ST = frozenset("bdfghklmnt")


def german_light_stem(w: str) -> str:
    """GermanLightStemmer (analysis/de/GermanLightStemmer.java:62-141):
    accent fold, then the two UniNE suffix steps; tested against the
    reference's delight.txt vocabulary."""
    w = w.translate(_DE_FOLD)
    n = len(w)
    if n > 5 and w.endswith("ern"):
        w = w[:-3]
    elif n > 4 and len(w) >= 2 and w[-2] == "e" and w[-1] in "mnrs":
        w = w[:-2]
    elif n > 3 and w[-1] == "e":
        w = w[:-1]
    elif n > 3 and w[-1] == "s" and w[-2] in _DE_ST:
        w = w[:-1]
    n = len(w)
    if n > 5 and w.endswith("est"):
        return w[:-3]
    if n > 4 and w[-2] == "e" and w[-1] in "rn":
        return w[:-2]
    if n > 4 and w[-2:] == "st" and w[-3] in _DE_ST:
        return w[:-2]
    return w


_ES_FOLD = str.maketrans(
    "àáâäòóôö"
    "èéêëùúûü"
    "ìíîï",
    "aaaaoooo" "eeeeuuuu" "iiii",
)


def spanish_light_stem(w: str) -> str:
    """SpanishLightStemmer (analysis/es/SpanishLightStemmer.java:62-112):
    accent fold then the CLEF-2001 suffix rules; tested against the
    reference's eslight.txt vocabulary."""
    if len(w) < 5:
        return w
    w = w.translate(_ES_FOLD)
    last = w[-1]
    if last in "oae":
        return w[:-1]
    if last == "s" and len(w) >= 4:
        if w[-2] == "e" and w[-3] == "s" and w[-4] == "e":
            return w[:-2]
        if w[-2] == "e" and w[-3] == "c":
            return w[:-3] + "z"
        if w[-2] in "oae":
            return w[:-2]
    return w


# ---------------------------------------------------------------------------
# Full chains (STOP_HOLE marks stopped tokens; see module docstring)
# ---------------------------------------------------------------------------


def _lang_tokenize(text: str, pattern=None) -> List[str]:
    from .analysis import MAX_TOKEN_LENGTH

    out: List[str] = []
    for m in (pattern or _LANG_TOKEN_PATTERN).finditer(text):
        tok = m.group()
        if len(tok) <= MAX_TOKEN_LENGTH:
            out.append(tok)
        else:
            out.extend(
                tok[i: i + MAX_TOKEN_LENGTH]
                for i in range(0, len(tok), MAX_TOKEN_LENGTH)
            )
    return out


def french_token(tok: str) -> str:
    """Per-token French chain (post-tokenizer): elision -> lowercase ->
    stop -> light stem."""
    t = elide(tok).lower()
    if t in FRENCH_STOP:
        return STOP_HOLE
    return french_light_stem(t)


def german_token(tok: str) -> str:
    t = tok.lower()
    if t in GERMAN_STOP:
        return STOP_HOLE
    return german_light_stem(german_normalize(t))


def spanish_token(tok: str) -> str:
    t = tok.lower()
    if t in SPANISH_STOP:
        return STOP_HOLE
    return spanish_light_stem(t)


def french_analyze(text: str) -> List[str]:
    return [french_token(t) for t in _lang_tokenize(text)]


def german_analyze(text: str) -> List[str]:
    return [german_token(t) for t in _lang_tokenize(text)]


def spanish_analyze(text: str) -> List[str]:
    return [spanish_token(t) for t in _lang_tokenize(text)]


#: ItalianAnalyzer.DEFAULT_ARTICLES (analysis/it/ItalianAnalyzer.java:49-55)
ITALIAN_ARTICLES = frozenset(
    ("c", "l", "all", "dall", "dell", "nell", "sull", "coll", "pell",
     "gl", "agl", "dagl", "degl", "negl", "sugl", "un", "m", "t", "s",
     "v", "d")
)

#: snowball italian_stop.txt (reference resource data, embedded for parity)
ITALIAN_STOP = frozenset((
    "a", "abbia", "abbiamo", "abbiano", "abbiate", "ad", "agl", "agli", "ai",
    "al", "all", "alla", "alle", "allo", "anche", "avemmo", "avendo",
    "avesse", "avessero", "avessi", "avessimo", "aveste", "avesti", "avete",
    "aveva", "avevamo", "avevano", "avevate", "avevi", "avevo", "avrai",
    "avranno", "avrebbe", "avrebbero", "avrei", "avremmo", "avremo",
    "avreste", "avresti", "avrete", "avrà", "avrò", "avuta", "avute",
    "avuti", "avuto", "c", "che", "chi", "ci", "coi", "col", "come", "con",
    "contro", "cui", "da", "dagl", "dagli", "dai", "dal", "dall", "dalla",
    "dalle", "dallo", "degl", "degli", "dei", "del", "dell", "della",
    "delle", "dello", "di", "dov", "dove", "e", "ebbe", "ebbero", "ebbi",
    "ed", "era", "erano", "eravamo", "eravate", "eri", "ero", "essendo",
    "faccia", "facciamo", "facciano", "facciate", "faccio", "facemmo",
    "facendo", "facesse", "facessero", "facessi", "facessimo", "faceste",
    "facesti", "faceva", "facevamo", "facevano", "facevate", "facevi",
    "facevo", "fai", "fanno", "farai", "faranno", "farebbe", "farebbero",
    "farei", "faremmo", "faremo", "fareste", "faresti", "farete", "farà",
    "farò", "fece", "fecero", "feci", "fosse", "fossero", "fossi", "fossimo",
    "foste", "fosti", "fu", "fui", "fummo", "furono", "gli", "ha", "hai",
    "hanno", "ho", "i", "il", "in", "io", "l", "la", "le", "lei", "li", "lo",
    "loro", "lui", "ma", "mi", "mia", "mie", "miei", "mio", "ne", "negl",
    "negli", "nei", "nel", "nell", "nella", "nelle", "nello", "noi", "non",
    "nostra", "nostre", "nostri", "nostro", "o", "per", "perché", "più",
    "quale", "quanta", "quante", "quanti", "quanto", "quella", "quelle",
    "quelli", "quello", "questa", "queste", "questi", "questo", "sarai",
    "saranno", "sarebbe", "sarebbero", "sarei", "saremmo", "saremo",
    "sareste", "saresti", "sarete", "sarà", "sarò", "se", "sei", "si", "sia",
    "siamo", "siano", "siate", "siete", "sono", "sta", "stai", "stando",
    "stanno", "starai", "staranno", "starebbe", "starebbero", "starei",
    "staremmo", "staremo", "stareste", "staresti", "starete", "starà",
    "starò", "stava", "stavamo", "stavano", "stavate", "stavi", "stavo",
    "stemmo", "stesse", "stessero", "stessi", "stessimo", "steste", "stesti",
    "stette", "stettero", "stetti", "stia", "stiamo", "stiano", "stiate",
    "sto", "su", "sua", "sue", "sugl", "sugli", "sui", "sul", "sull",
    "sulla", "sulle", "sullo", "suo", "suoi", "ti", "tra", "tu", "tua",
    "tue", "tuo", "tuoi", "tutti", "tutto", "un", "una", "uno", "vi", "voi",
    "vostra", "vostre", "vostri", "vostro", "è",
))

#: snowball portuguese_stop.txt
PORTUGUESE_STOP = frozenset((
    "a", "ao", "aos", "aquela", "aquelas", "aquele", "aqueles", "aquilo",
    "as", "até", "com", "como", "da", "das", "de", "dela", "delas", "dele",
    "deles", "depois", "do", "dos", "e", "ela", "elas", "ele", "eles", "em",
    "entre", "era", "eram", "essa", "essas", "esse", "esses", "esta",
    "estamos", "estas", "estava", "estavam", "este", "esteja", "estejam",
    "estejamos", "estes", "esteve", "estive", "estivemos", "estiver",
    "estivera", "estiveram", "estiverem", "estivermos", "estivesse",
    "estivessem", "estivéramos", "estivéssemos", "estou", "está",
    "estávamos", "estão", "eu", "foi", "fomos", "for", "fora", "foram",
    "forem", "formos", "fosse", "fossem", "fui", "fôramos", "fôssemos",
    "haja", "hajam", "hajamos", "havemos", "hei", "houve", "houvemos",
    "houver", "houvera", "houveram", "houverei", "houverem", "houveremos",
    "houveria", "houveriam", "houvermos", "houverá", "houverão",
    "houveríamos", "houvesse", "houvessem", "houvéramos", "houvéssemos",
    "há", "hão", "isso", "isto", "já", "lhe", "lhes", "mais", "mas", "me",
    "mesmo", "meu", "meus", "minha", "minhas", "muito", "na", "nas", "nem",
    "no", "nos", "nossa", "nossas", "nosso", "nossos", "num", "numa", "não",
    "nós", "o", "os", "ou", "para", "pela", "pelas", "pelo", "pelos", "por",
    "qual", "quando", "que", "quem", "se", "seja", "sejam", "sejamos", "sem",
    "serei", "seremos", "seria", "seriam", "será", "serão", "seríamos",
    "seu", "seus", "somos", "sou", "sua", "suas", "são", "só", "também",
    "te", "tem", "temos", "tenha", "tenham", "tenhamos", "tenho", "terei",
    "teremos", "teria", "teriam", "terá", "terão", "teríamos", "teu", "teus",
    "teve", "tinha", "tinham", "tive", "tivemos", "tiver", "tivera",
    "tiveram", "tiverem", "tivermos", "tivesse", "tivessem", "tivéramos",
    "tivéssemos", "tu", "tua", "tuas", "tém", "tínhamos", "um", "uma",
    "você", "vocês", "vos", "à", "às", "éramos",
))


def italian_light_stem(w: str) -> str:
    """ItalianLightStemmer (analysis/it/ItalianLightStemmer.java:61-115 —
    Savoy, CLEF-2001): accent fold then the final-vowel rules; tested
    against the reference's itlight.txt vocabulary."""
    if len(w) < 6:
        return w
    w = w.translate(_ES_FOLD)  # identical accent map to the Spanish rules
    last = w[-1]
    if last == "e":
        return w[:-2] if w[-2] in "ih" else w[:-1]
    if last == "i":
        return w[:-2] if w[-2] in "hi" else w[:-1]
    if last == "a":
        return w[:-2] if w[-2] == "i" else w[:-1]
    if last == "o":
        return w[:-2] if w[-2] == "i" else w[:-1]
    return w


_PT_FOLD = str.maketrans(
    "àáâäã" "òóôöõ" "èéêë" "ùúûü" "ìíîï" "ç",
    "aaaaa" "ooooo" "eeee" "uuuu" "iiii" "c",
)


def _pt_remove_suffix(w: str) -> str:
    """PortugueseLightStemmer.removeSuffix
    (analysis/pt/PortugueseLightStemmer.java:121-169)."""
    if len(w) > 4 and w.endswith("es") and w[-3] in "rslz":
        return w[:-2]
    if len(w) > 3 and w.endswith("ns"):
        return w[:-2] + "m"
    if len(w) > 4 and (w.endswith("eis") or w.endswith("éis")):
        return w[:-3] + "el"
    if len(w) > 4 and w.endswith("ais"):
        return w[:-2] + "l"
    if len(w) > 4 and w.endswith("óis"):
        return w[:-3] + "ol"
    if len(w) > 4 and w.endswith("is"):
        return w[:-1] + "l"
    if len(w) > 3 and (w.endswith("ões") or w.endswith("ães")):
        return w[:-3] + "ão"
    if len(w) > 6 and w.endswith("mente"):
        return w[:-5]
    if len(w) > 3 and w[-1] == "s":
        return w[:-1]
    return w


def _pt_norm_feminine(w: str) -> str:
    """PortugueseLightStemmer.normFeminine (:172-199)."""
    if len(w) > 7 and (
        w.endswith("inha") or w.endswith("iaca") or w.endswith("eira")
    ):
        return w[:-1] + "o"
    if len(w) > 6:
        if w.endswith(("osa", "ica", "ida", "ada", "iva", "ama")):
            return w[:-1] + "o"
        if w.endswith("ona"):
            return w[:-3] + "ão"
        if w.endswith("ora"):
            return w[:-1]
        if w.endswith("esa"):
            return w[:-3] + "ês"
        if w.endswith("na"):
            return w[:-1] + "o"
    return w


def portuguese_light_stem(w: str) -> str:
    """PortugueseLightStemmer (analysis/pt/PortugueseLightStemmer.java:
    62-118 — UniNE/Savoy): plural/adverb suffix removal, feminine
    normalization, final-vowel strip, then the accent fold (which runs
    LAST in this stemmer, unlike the others); tested against the
    reference's ptlight.txt vocabulary."""
    if len(w) < 4:
        return w
    w = _pt_remove_suffix(w)
    if len(w) > 3 and w[-1] == "a":
        w = _pt_norm_feminine(w)
    if len(w) > 4 and w[-1] in "eao":
        w = w[:-1]
    return w.translate(_PT_FOLD)


def italian_token(tok: str) -> str:
    """Per-token Italian chain (ItalianAnalyzer.createComponents,
    analysis/it/ItalianAnalyzer.java:123-130): elision (Italian article
    set) -> lowercase -> stop -> light stem."""
    t = elide(tok, ITALIAN_ARTICLES).lower()
    if t in ITALIAN_STOP:
        return STOP_HOLE
    return italian_light_stem(t)


def portuguese_token(tok: str) -> str:
    """Per-token Portuguese chain (PortugueseAnalyzer.createComponents,
    analysis/pt/PortugueseAnalyzer.java:113-120): lowercase -> stop ->
    light stem."""
    t = tok.lower()
    if t in PORTUGUESE_STOP:
        return STOP_HOLE
    return portuguese_light_stem(t)


def italian_analyze(text: str) -> List[str]:
    return [italian_token(t) for t in _lang_tokenize(text)]


def portuguese_analyze(text: str) -> List[str]:
    return [portuguese_token(t) for t in _lang_tokenize(text)]


# ---------------------------------------------------------------------------
# Scandinavian chains: Swedish / Danish / Norwegian analyzers default to
# LowerCaseFilter -> StopFilter -> SnowballFilter({Swedish,Danish,
# Norwegian}Stemmer) (analysis/{sv,da,no}/*Analyzer.java createComponents);
# the stemmers live in lucene_spark.snowball, validated on the reference's
# snowball voc/output test data.
# ---------------------------------------------------------------------------

#: snowball swedish_stop.txt
SWEDISH_STOP = frozenset((
    "alla", "allt", "att", "av", "blev", "bli", "blir", "blivit", "de",
    "dem", "den", "denna", "deras", "dess", "dessa", "det", "detta", "dig",
    "din", "dina", "ditt", "du", "där", "då", "efter", "ej", "eller", "en",
    "er", "era", "ert", "ett", "från", "för", "ha", "hade", "han", "hans",
    "har", "henne", "hennes", "hon", "honom", "hur", "här", "i", "icke",
    "ingen", "inom", "inte", "jag", "ju", "kan", "kunde", "man", "med",
    "mellan", "men", "mig", "min", "mina", "mitt", "mot", "mycket", "ni",
    "nu", "när", "någon", "något", "några", "och", "om", "oss", "på",
    "samma", "sedan", "sig", "sin", "sina", "sitta", "själv", "skulle",
    "som", "så", "sådan", "sådana", "sådant", "till", "under", "upp", "ut",
    "utan", "vad", "var", "vara", "varför", "varit", "varje", "vars", "vart",
    "vem", "vi", "vid", "vilka", "vilkas", "vilken", "vilket", "vår", "våra",
    "vårt", "än", "är", "åt", "över",
))

#: snowball danish_stop.txt
DANISH_STOP = frozenset((
    "ad", "af", "alle", "alt", "anden", "at", "blev", "blive", "bliver",
    "da", "de", "dem", "den", "denne", "der", "deres", "det", "dette", "dig",
    "din", "disse", "dog", "du", "efter", "eller", "en", "end", "er", "et",
    "for", "fra", "ham", "han", "hans", "har", "havde", "have", "hende",
    "hendes", "her", "hos", "hun", "hvad", "hvis", "hvor", "i", "ikke",
    "ind", "jeg", "jer", "jo", "kunne", "man", "mange", "med", "meget",
    "men", "mig", "min", "mine", "mit", "mod", "ned", "noget", "nogle", "nu",
    "når", "og", "også", "om", "op", "os", "over", "på", "selv", "sig",
    "sin", "sine", "sit", "skal", "skulle", "som", "sådan", "thi", "til",
    "ud", "under", "var", "vi", "vil", "ville", "vor", "være", "været",
))

#: snowball norwegian_stop.txt
NORWEGIAN_STOP = frozenset((
    "alle", "at", "av", "bare", "begge", "ble", "blei", "bli", "blir",
    "blitt", "både", "båe", "da", "de", "deg", "dei", "deim", "deira",
    "deires", "dem", "den", "denne", "der", "dere", "deres", "det", "dette",
    "di", "din", "disse", "ditt", "du", "dykk", "dykkar", "då", "eg", "ein",
    "eit", "eitt", "eller", "elles", "en", "enn", "er", "et", "ett", "etter",
    "for", "fordi", "fra", "før", "ha", "hadde", "han", "hans", "har",
    "hennar", "henne", "hennes", "her", "hjå", "ho", "hoe", "honom", "hoss",
    "hossen", "hun", "hva", "hvem", "hver", "hvilke", "hvilken", "hvis",
    "hvor", "hvordan", "hvorfor", "i", "ikke", "ikkje", "ingen", "ingi",
    "inkje", "inn", "inni", "ja", "jeg", "kan", "kom", "korleis", "korso",
    "kun", "kunne", "kva", "kvar", "kvarhelst", "kven", "kvi", "kvifor",
    "man", "mange", "me", "med", "medan", "meg", "meget", "mellom", "men",
    "mi", "min", "mine", "mitt", "mot", "mykje", "ned", "no", "noe", "noen",
    "noka", "noko", "nokon", "nokor", "nokre", "nå", "når", "og", "også",
    "om", "opp", "oss", "over", "på", "samme", "seg", "selv", "si", "sia",
    "sidan", "siden", "sin", "sine", "sitt", "sjøl", "skal", "skulle",
    "slik", "so", "som", "somme", "somt", "så", "sånn", "til", "um", "upp",
    "ut", "uten", "var", "vart", "varte", "ved", "vere", "verte", "vi",
    "vil", "ville", "vore", "vors", "vort", "vår", "være", "vært", "å",
))


def swedish_token(tok: str) -> str:
    from .snowball import swedish_stem

    t = tok.lower()
    if t in SWEDISH_STOP:
        return STOP_HOLE
    return swedish_stem(t)


def danish_token(tok: str) -> str:
    from .snowball import danish_stem

    t = tok.lower()
    if t in DANISH_STOP:
        return STOP_HOLE
    return danish_stem(t)


def norwegian_token(tok: str) -> str:
    from .snowball import norwegian_stem

    t = tok.lower()
    if t in NORWEGIAN_STOP:
        return STOP_HOLE
    return norwegian_stem(t)


def swedish_analyze(text: str) -> List[str]:
    return [swedish_token(t) for t in _lang_tokenize(text)]


def danish_analyze(text: str) -> List[str]:
    return [danish_token(t) for t in _lang_tokenize(text)]


def norwegian_analyze(text: str) -> List[str]:
    return [norwegian_token(t) for t in _lang_tokenize(text)]


# ---------------------------------------------------------------------------
# Russian chain (analysis/ru/RussianAnalyzer.java createComponents):
# StandardTokenizer -> lower -> stop -> SnowballFilter(RussianStemmer).
# Cyrillic letters extend the token pattern (UAX#29 ALPHA).
# ---------------------------------------------------------------------------

_CYR = "\u0400-\u04FF"
_ALPHA_RUN_RU = (
    "[" + _L + _CYR + "](?:(?:_*|[:.'\u2019])[" + _L + _CYR + "])*"
)
RUSSIAN_TOKEN_RE = r"(?:_*(?:" + _NUM_RUN + r"|" + _ALPHA_RUN_RU + r"))+_*"
_RUSSIAN_TOKEN_PATTERN = re.compile(RUSSIAN_TOKEN_RE)

#: snowball russian_stop.txt
RUSSIAN_STOP = frozenset((
    "а", "без", "более", "больше", "будет", "будто", "бы", "был", "была",
    "были", "было", "быть", "в", "вам", "вас", "вдруг", "ведь", "во", "вот",
    "впрочем", "все", "всегда", "всего", "всех", "всю", "вы", "где",
    "говорил", "да", "даже", "два", "для", "до", "другой", "его", "ее", "ей",
    "ему", "если", "есть", "еще", "ж", "же", "жизнь", "за", "зачем", "здесь",
    "и", "из", "или", "им", "иногда", "их", "к", "кажется", "как", "какая",
    "какой", "когда", "конечно", "кто", "куда", "ли", "лучше", "между",
    "меня", "мне", "много", "может", "можно", "мой", "моя", "мы", "на",
    "над", "надо", "наконец", "нас", "не", "него", "нее", "ней", "нельзя",
    "нет", "ни", "нибудь", "никогда", "ним", "них", "ничего", "но", "ну",
    "о", "об", "один", "он", "она", "они", "опять", "от", "перед", "по",
    "под", "после", "потом", "потому", "почти", "при", "про", "раз", "разве",
    "с", "сам", "свою", "себе", "себя", "сегодня", "сейчас", "сказал",
    "сказала", "сказать", "со", "совсем", "так", "такой", "там", "тебя",
    "тем", "теперь", "то", "тогда", "того", "тоже", "только", "том", "тот",
    "три", "тут", "ты", "у", "уж", "уже", "хорошо", "хоть", "чего",
    "человек", "чем", "через", "что", "чтоб", "чтобы", "чуть", "эти",
    "этого", "этой", "этом", "этот", "эту", "я",
))


def russian_token(tok: str) -> str:
    from .snowball import russian_stem

    t = tok.lower()
    if t in RUSSIAN_STOP:
        return STOP_HOLE
    return russian_stem(t)


def russian_analyze(text: str) -> List[str]:
    return [russian_token(t) for t in _lang_tokenize(text, _RUSSIAN_TOKEN_PATTERN)]


# ---------------------------------------------------------------------------
# Dutch chain (analysis/nl/DutchAnalyzer.java createComponents): lower ->
# stop -> StemmerOverrideFilter (the 4-entry default dict) ->
# SnowballFilter(DutchStemmer).
# ---------------------------------------------------------------------------

#: DutchAnalyzer.DEFAULT_STEM_DICT (analysis/nl/DutchAnalyzer.java:80-84)
DUTCH_STEM_OVERRIDES = {
    "fiets": "fiets", "bromfiets": "bromfiets", "ei": "eier",
    "kind": "kinder",
}

#: snowball dutch_stop.txt
DUTCH_STOP = frozenset((
    "aan", "al", "alles", "als", "altijd", "andere", "ben", "bij", "daar",
    "dan", "dat", "de", "der", "deze", "die", "dit", "doch", "doen", "door",
    "dus", "een", "eens", "en", "er", "ge", "geen", "geweest", "haar", "had",
    "heb", "hebben", "heeft", "hem", "het", "hier", "hij", "hoe", "hun",
    "iemand", "iets", "ik", "in", "is", "ja", "je", "kan", "kon", "kunnen",
    "maar", "me", "meer", "men", "met", "mij", "mijn", "moet", "na", "naar",
    "niet", "niets", "nog", "nu", "of", "om", "omdat", "onder", "ons", "ook",
    "op", "over", "reeds", "te", "tegen", "toch", "toen", "tot", "u", "uit",
    "uw", "van", "veel", "voor", "want", "waren", "was", "wat", "werd",
    "wezen", "wie", "wil", "worden", "wordt", "zal", "ze", "zelf", "zich",
    "zij", "zijn", "zo", "zonder", "zou",
))


def dutch_token(tok: str) -> str:
    from .snowball import dutch_stem

    t = tok.lower()
    if t in DUTCH_STOP:
        return STOP_HOLE
    if t in DUTCH_STEM_OVERRIDES:
        return DUTCH_STEM_OVERRIDES[t]
    return dutch_stem(t)


def dutch_analyze(text: str) -> List[str]:
    return [dutch_token(t) for t in _lang_tokenize(text)]


# ---------------------------------------------------------------------------
# Finnish / Hungarian / Romanian chains (analysis/{fi,hu,ro}/
# {Finnish,Hungarian,Romanian}Analyzer.java createComponents):
# StandardTokenizer -> lower -> stop -> SnowballFilter. Hungarian and
# Romanian letters extend into Latin Extended-A (ő ű / ă ş ţ are UAX#29
# ALPHA), so those chains scan with a widened letter class.
# ---------------------------------------------------------------------------

#: Latin Extended-A + Extended-B (covers both the cedilla forms ş/ţ the
#: reference resources use and the comma-below forms ș/ț real text uses —
#: UAX#29 treats all of them as ALPHA)
_L_EXT = _L + "Ā-ɏ"
_ALPHA_RUN_EXT = (
    "[" + _L_EXT + "](?:(?:_*|[:.'’])[" + _L_EXT + "])*"
)
LATIN_EXT_TOKEN_RE = r"(?:_*(?:" + _NUM_RUN + r"|" + _ALPHA_RUN_EXT + r"))+_*"
_LATIN_EXT_TOKEN_PATTERN = re.compile(LATIN_EXT_TOKEN_RE)

#: snowball finnish_stop.txt
FINNISH_STOP = frozenset((
    "olla", "olen", "olet", "on", "olemme", "olette", "ovat", "ole", "oli",
    "olisi", "olisit", "olisin", "olisimme", "olisitte", "olisivat", "olit",
    "olin", "olimme", "olitte", "olivat", "ollut", "olleet", "en", "et",
    "ei", "emme", "ette", "eivät", "minä", "minun", "minut", "minua",
    "minussa", "minusta", "minuun", "minulla", "minulta", "minulle",
    "sinä", "sinun", "sinut", "sinua", "sinussa", "sinusta", "sinuun",
    "sinulla", "sinulta", "sinulle", "hän", "hänen", "hänet", "häntä",
    "hänessä", "hänestä", "häneen", "hänellä", "häneltä", "hänelle", "me",
    "meidän", "meidät", "meitä", "meissä", "meistä", "meihin", "meillä",
    "meiltä", "meille", "te", "teidän", "teidät", "teitä", "teissä",
    "teistä", "teihin", "teillä", "teiltä", "teille", "he", "heidän",
    "heidät", "heitä", "heissä", "heistä", "heihin", "heillä", "heiltä",
    "heille", "tämä", "tämän", "tätä", "tässä", "tästä", "tähän", "tällä",
    "tältä", "tälle", "tänä", "täksi", "tuo", "tuon", "tuota", "tuossa",
    "tuosta", "tuohon", "tuolla", "tuolta", "tuolle", "tuona", "tuoksi",
    "se", "sen", "sitä", "siinä", "siitä", "siihen", "sillä", "siltä",
    "sille", "sinä", "siksi", "nämä", "näiden", "näitä", "näissä",
    "näistä", "näihin", "näillä", "näiltä", "näille", "näinä", "näiksi",
    "nuo", "noiden", "noita", "noissa", "noista", "noihin", "noilla",
    "noilta", "noille", "noina", "noiksi", "ne", "niiden", "niitä",
    "niissä", "niistä", "niihin", "niillä", "niiltä", "niille", "niinä",
    "niiksi", "kuka", "kenen", "kenet", "ketä", "kenessä", "kenestä",
    "keneen", "kenellä", "keneltä", "kenelle", "kenenä", "keneksi",
    "ketkä", "keiden", "keitä", "keissä", "keistä", "keihin", "keillä",
    "keiltä", "keille", "keinä", "keiksi", "mikä", "minkä", "mitä",
    "missä", "mistä", "mihin", "millä", "miltä", "mille", "miksi",
    "mitkä", "joka", "jonka", "jota", "jossa", "josta", "johon", "jolla",
    "jolta", "jolle", "jona", "joksi", "jotka", "joiden", "joita",
    "joissa", "joista", "joihin", "joilla", "joilta", "joille", "joina",
    "joiksi", "että", "ja", "jos", "koska", "kuin", "mutta", "niin",
    "sekä", "sillä", "tai", "vaan", "vai", "vaikka", "kanssa", "mukaan",
    "noin", "poikki", "yli", "kun", "nyt", "itse",
))

#: snowball hungarian_stop.txt
HUNGARIAN_STOP = frozenset((
    "a", "ahogy", "ahol", "aki", "akik", "akkor", "alatt", "által",
    "általában", "amely", "amelyek", "amelyekben", "amelyeket", "amelyet",
    "amelynek", "ami", "amit", "amolyan", "amíg", "amikor", "át", "abban",
    "ahhoz", "annak", "arra", "arról", "az", "azok", "azon", "azt",
    "azzal", "azért", "aztán", "azután", "azonban", "bár", "be", "belül",
    "benne", "cikk", "cikkek", "cikkeket", "csak", "de", "e", "eddig",
    "egész", "egy", "egyes", "egyetlen", "egyéb", "egyik", "egyre",
    "ekkor", "el", "elég", "ellen", "elő", "először", "előtt", "első",
    "én", "éppen", "ebben", "ehhez", "emilyen", "ennek", "erre", "ez",
    "ezt", "ezek", "ezen", "ezzel", "ezért", "és", "fel", "felé", "hanem",
    "hiszen", "hogy", "hogyan", "igen", "így", "illetve", "ill.", "ill",
    "ilyen", "ilyenkor", "ison", "ismét", "itt", "jó", "jól", "jobban",
    "kell", "kellett", "keresztül", "keressünk", "ki", "kívül", "között",
    "közül", "legalább", "lehet", "lehetett", "legyen", "lenne", "lenni",
    "lesz", "lett", "maga", "magát", "majd", "már", "más", "másik", "meg",
    "még", "mellett", "mert", "mely", "melyek", "mi", "mit", "míg",
    "miért", "milyen", "mikor", "minden", "mindent", "mindenki", "mindig",
    "mint", "mintha", "mivel", "most", "nagy", "nagyobb", "nagyon", "ne",
    "néha", "nekem", "neki", "nem", "néhány", "nélkül", "nincs", "olyan",
    "ott", "össze", "ő", "ők", "őket", "pedig", "persze", "rá", "s",
    "saját", "sem", "semmi", "sok", "sokat", "sokkal", "számára",
    "szemben", "szerint", "szinte", "talán", "tehát", "teljes", "tovább",
    "továbbá", "több", "úgy", "ugyanis", "új", "újabb", "újra", "után",
    "utána", "utolsó", "vagy", "vagyis", "valaki", "valami", "valamint",
    "való", "vagyok", "van", "vannak", "volt", "voltam", "voltak",
    "voltunk", "vissza", "vele", "viszont", "volna",
))

#: analysis/ro/stopwords.txt (cedilla forms, as shipped)
ROMANIAN_STOP = frozenset((
    "acea", "aceasta", "această", "aceea", "acei", "aceia", "acel",
    "acela", "acele", "acelea", "acest", "acesta", "aceste", "acestea",
    "aceşti", "aceştia", "acolo", "acum", "ai", "aia", "aibă", "aici",
    "al", "ăla", "ale", "alea", "ălea", "altceva", "altcineva", "am",
    "ar", "are", "aş", "aşadar", "asemenea", "asta", "ăsta", "astăzi",
    "astea", "ăstea", "ăştia", "asupra", "aţi", "au", "avea", "avem",
    "aveţi", "azi", "bine", "bucur", "bună", "ca", "că", "căci", "când",
    "care", "cărei", "căror", "cărui", "cât", "câte", "câţi", "către",
    "câtva", "ce", "cel", "ceva", "chiar", "cînd", "cine", "cineva",
    "cît", "cîte", "cîţi", "cîtva", "contra", "cu", "cum", "cumva",
    "curând", "curînd", "da", "dă", "dacă", "dar", "datorită", "de",
    "deci", "deja", "deoarece", "departe", "deşi", "din", "dinaintea",
    "dintr", "dintre", "drept", "după", "ea", "ei", "el", "ele", "eram",
    "este", "eşti", "eu", "face", "fără", "fi", "fie", "fiecare", "fii",
    "fim", "fiţi", "iar", "ieri", "îi", "îl", "îmi", "împotriva", "în",
    "înainte", "înaintea", "încât", "încît", "încotro", "între",
    "întrucât", "întrucît", "îţi", "la", "lângă", "le", "li", "lîngă",
    "lor", "lui", "mă", "mâine", "mea", "mei", "mele", "mereu", "meu",
    "mi", "mine", "mult", "multă", "mulţi", "ne", "nicăieri", "nici",
    "nimeni", "nişte", "noastră", "noastre", "noi", "noştri", "nostru",
    "nu", "ori", "oricând", "oricare", "oricât", "orice", "oricînd",
    "oricine", "oricît", "oricum", "oriunde", "până", "pe", "pentru",
    "peste", "pînă", "poate", "pot", "prea", "prima", "primul", "prin",
    "printr", "sa", "să", "săi", "sale", "sau", "său", "se", "şi",
    "sînt", "sîntem", "sînteţi", "spre", "sub", "sunt", "suntem",
    "sunteţi", "ta", "tăi", "tale", "tău", "te", "ţi", "ţie", "tine",
    "toată", "toate", "tot", "toţi", "totuşi", "tu", "un", "una", "unde",
    "undeva", "unei", "unele", "uneori", "unor", "vă", "vi", "voastră",
    "voastre", "voi", "voştri", "vostru", "vouă", "vreo", "vreun",
))


def finnish_token(tok: str) -> str:
    from .snowball import finnish_stem

    t = tok.lower()
    if t in FINNISH_STOP:
        return STOP_HOLE
    return finnish_stem(t)


def hungarian_token(tok: str) -> str:
    from .snowball import hungarian_stem

    t = tok.lower()
    if t in HUNGARIAN_STOP:
        return STOP_HOLE
    return hungarian_stem(t)


def romanian_token(tok: str) -> str:
    from .snowball import romanian_stem

    t = tok.lower()
    if t in ROMANIAN_STOP:
        return STOP_HOLE
    return romanian_stem(t)


def finnish_analyze(text: str) -> List[str]:
    return [finnish_token(t) for t in _lang_tokenize(text)]


def hungarian_analyze(text: str) -> List[str]:
    return [hungarian_token(t) for t in _lang_tokenize(text, _LATIN_EXT_TOKEN_PATTERN)]


def romanian_analyze(text: str) -> List[str]:
    return [romanian_token(t) for t in _lang_tokenize(text, _LATIN_EXT_TOKEN_PATTERN)]


# ---------------------------------------------------------------------------
# Turkish chain (analysis/tr/TurkishAnalyzer.java createComponents):
# StandardTokenizer -> ApostropheFilter (truncate at the first ' or ’) ->
# TurkishLowerCaseFilter (I -> ı, İ -> i, combining-dot-above handling) ->
# StopFilter -> SnowballFilter(TurkishStemmer). Python's str.lower() maps
# I -> i and İ -> i+U+0307, so the Turkish-aware lowering is explicit.
# ---------------------------------------------------------------------------

_TR_COMBINING_DOT = "̇"

#: analysis/tr/stopwords.txt
TURKISH_STOP = frozenset((
    "acaba", "altmış", "altı", "ama", "ancak", "arada", "aslında",
    "ayrıca", "bana", "bazı", "belki", "ben", "benden", "beni", "benim",
    "beri", "beş", "bile", "bin", "bir", "birçok", "biri", "birkaç",
    "birkez", "birşey", "birşeyi", "biz", "bize", "bizden", "bizi",
    "bizim", "böyle", "böylece", "bu", "buna", "bunda", "bundan",
    "bunlar", "bunları", "bunların", "bunu", "bunun", "burada", "çok",
    "çünkü", "da", "daha", "dahi", "de", "defa", "değil", "diğer", "diye",
    "doksan", "dokuz", "dolayı", "dolayısıyla", "dört", "edecek", "eden",
    "ederek", "edilecek", "ediliyor", "edilmesi", "ediyor", "eğer",
    "elli", "en", "etmesi", "etti", "ettiği", "ettiğini", "gibi", "göre",
    "halen", "hangi", "hatta", "hem", "henüz", "hep", "hepsi", "her",
    "herhangi", "herkesin", "hiç", "hiçbir", "için", "iki", "ile",
    "ilgili", "ise", "işte", "itibaren", "itibariyle", "kadar", "karşın",
    "katrilyon", "kendi", "kendilerine", "kendini", "kendisi",
    "kendisine", "kendisini", "kez", "ki", "kim", "kimden", "kime",
    "kimi", "kimse", "kırk", "milyar", "milyon", "mu", "mü", "mı",
    "nasıl", "ne", "neden", "nedenle", "nerde", "nerede", "nereye",
    "niye", "niçin", "o", "olan", "olarak", "oldu", "olduğu", "olduğunu",
    "olduklarını", "olmadı", "olmadığı", "olmak", "olması", "olmayan",
    "olmaz", "olsa", "olsun", "olup", "olur", "olursa", "oluyor", "on",
    "ona", "ondan", "onlar", "onlardan", "onları", "onların", "onu",
    "onun", "otuz", "oysa", "öyle", "pek", "rağmen", "sadece", "sanki",
    "sekiz", "seksen", "sen", "senden", "seni", "senin", "siz", "sizden",
    "sizi", "sizin", "şey", "şeyden", "şeyi", "şeyler", "şöyle", "şu",
    "şuna", "şunda", "şundan", "şunları", "şunu", "tarafından",
    "trilyon", "tüm", "üç", "üzere", "var", "vardı", "ve", "veya", "ya",
    "yani", "yapacak", "yapılan", "yapılması", "yapıyor", "yapmak",
    "yaptı", "yaptığı", "yaptığını", "yaptıkları", "yedi", "yerine",
    "yetmiş", "yine", "yirmi", "yoksa", "yüz", "zaten",
))


def turkish_lower(t: str) -> str:
    """TurkishLowerCaseFilter: I -> ı unless followed (through combining
    marks) by U+0307 (then i, dot removed); combining dots after an I/i
    run are removed; everything else 1:1 lowercase (İ -> i)."""
    import unicodedata

    out: List[str] = []
    i = 0
    n = len(t)
    i_or_after = False
    while i < n:
        ch = t[i]
        i_or_after = ch == "I" or (
            i_or_after and unicodedata.category(ch) == "Mn"
        )
        if i_or_after:
            if ch == _TR_COMBINING_DOT:
                i += 1
                continue
            if ch == "I":
                j = i + 1
                before_dot = False
                while j < n and unicodedata.category(t[j]) == "Mn":
                    if t[j] == _TR_COMBINING_DOT:
                        before_dot = True
                        break
                    j += 1
                if before_dot:
                    out.append("i")
                else:
                    out.append("ı")
                    i_or_after = False
                i += 1
                continue
        out.append("i" if ch == "İ" else ch.lower())
        i += 1
    return "".join(out)


def turkish_token(tok: str) -> str:
    from .snowball import turkish_stem

    for k, ch in enumerate(tok):
        if ch == "'" or ch == "’":
            tok = tok[:k]
            break
    t = turkish_lower(tok)
    if t in TURKISH_STOP:
        return STOP_HOLE
    return turkish_stem(t)


def turkish_analyze(text: str) -> List[str]:
    return [turkish_token(t) for t in _lang_tokenize(text, _LATIN_EXT_TOKEN_PATTERN)]


# ---------------------------------------------------------------------------
# Chain registry: one row per language analyzer. analysis.py dispatches
# (scan pattern, per-token chain, batch-casing mode) entirely from here,
# so adding a language is one row + its token function.
# ---------------------------------------------------------------------------

from typing import Callable, NamedTuple, Pattern


class ChainSpec(NamedTuple):
    pattern: Pattern
    token_fn: Callable[[str], str]
    #: True -> the chain's lowercase step is NOT ``str.lower``-compatible
    #: (e.g. Turkish dotted/dotless I); the batch path must scan the
    #: original case and let token_fn lower per token.
    raw_case: bool = False
    #: set for chains that are NOT a 1:1 token map (e.g. CJK bigramming):
    #: a full text -> token-list function; the batch path maps rows
    #: through it instead of scan+map.
    analyze: Callable[[str], List[str]] = None


CHAINS = {
    "french": ChainSpec(_LANG_TOKEN_PATTERN, french_token),
    "german": ChainSpec(_LANG_TOKEN_PATTERN, german_token),
    "spanish": ChainSpec(_LANG_TOKEN_PATTERN, spanish_token),
    "italian": ChainSpec(_LANG_TOKEN_PATTERN, italian_token),
    "portuguese": ChainSpec(_LANG_TOKEN_PATTERN, portuguese_token),
    "swedish": ChainSpec(_LANG_TOKEN_PATTERN, swedish_token),
    "danish": ChainSpec(_LANG_TOKEN_PATTERN, danish_token),
    "norwegian": ChainSpec(_LANG_TOKEN_PATTERN, norwegian_token),
    "russian": ChainSpec(_RUSSIAN_TOKEN_PATTERN, russian_token),
    "dutch": ChainSpec(_LANG_TOKEN_PATTERN, dutch_token),
    "finnish": ChainSpec(_LATIN_EXT_TOKEN_PATTERN, finnish_token),
    "hungarian": ChainSpec(_LATIN_EXT_TOKEN_PATTERN, hungarian_token),
    "romanian": ChainSpec(_LATIN_EXT_TOKEN_PATTERN, romanian_token),
    "turkish": ChainSpec(_LATIN_EXT_TOKEN_PATTERN, turkish_token,
                         raw_case=True),
}


def chain_analyze_fn(name: str) -> Callable[[str], List[str]]:
    spec = CHAINS[name]
    if spec.analyze is not None:
        return spec.analyze

    def analyze(text: str) -> List[str]:
        return [spec.token_fn(t) for t in _lang_tokenize(text, spec.pattern)]

    analyze.__name__ = name + "_analyze"
    return analyze


# ---------------------------------------------------------------------------
# Arabic & Persian (analysis/ar/ArabicAnalyzer.java:128-137,
# analysis/fa/PersianAnalyzer.java:121-131)
#
# Chains:
# - Arabic:  LowerCase -> DecimalDigit -> Stop (pre-normalization: the
#   stopword file's own header says "not normalized, so use before
#   normalization") -> ArabicNormalization -> ArabicStem.
# - Persian: PersianCharFilter (ZWNJ U+200C -> space; here: ZWNJ is simply
#   not a token char, same split) -> LowerCase -> DecimalDigit ->
#   ArabicNormalization -> PersianNormalization -> Stop. No stemming.
#
# Tokenizer envelope: one run of Arabic-script letters (harakat and other
# combining marks continue a run, as UAX#29 Extend does); Arabic-Indic
# digit runs with MidNum joins; Latin runs as in LANG_TOKEN_RE. ZWNJ breaks
# tokens in both chains (exact for Persian via the char filter; a
# documented simplification for Arabic, where UAX#29 would join).
# ---------------------------------------------------------------------------

import unicodedata as _ud

#: Arabic-script letters (hamza..yeh, extended/Farsi blocks, suppl.)
_AR_L = (
    "ء-غف-يٮ-ٯٱ-ۓە"
    "ۥ-ۦۮ-ۯۺ-ۿݐ-ݿ"
)
#: in-word continuations: harakat + superscript alef + tatweel + quranic marks
_AR_M = "ً-ْٰـٓ-ٕۖ-ۜ۟-ۤۧ-۪ۨ-ۭ"
_AR_D = "0-9٠-٩۰-۹"
_AR_NUM_RUN = "[" + _AR_D + r"](?:(?:_*|[.,;'،٫٬])[" + _AR_D + "])*"
_AR_ALPHA_RUN = "[" + _AR_L + "][" + _AR_L + _AR_M + "]*"
ARABIC_TOKEN_RE = (
    r"(?:_*(?:" + _AR_NUM_RUN + r"|" + _AR_ALPHA_RUN + r"|" + _ALPHA_RUN + r"))+_*"
)
_ARABIC_TOKEN_PATTERN = re.compile(ARABIC_TOKEN_RE)

from .langdata import ARABIC_STOP, PERSIAN_STOP  # noqa: E402


def fold_decimal_digits(t: str) -> str:
    """DecimalDigitFilter (analysis/core/DecimalDigitFilter.java:43-58):
    any non-ASCII Unicode decimal digit folds to its 0-9 equivalent."""
    if t.isascii():
        return t
    return "".join(
        chr(ord("0") + _ud.digit(ch))
        if ord(ch) > 0x7F and _ud.category(ch) == "Nd"
        else ch
        for ch in t
    )


_AR_NORM = str.maketrans(
    {
        "آ": "ا", "أ": "ا", "إ": "ا",  # hamza-seat alefs -> alef
        "ى": "ي",  # dotless yeh -> yeh
        "ة": "ه",  # teh marbuta -> heh
        "ـ": None,      # tatweel
        "ً": None, "ٌ": None, "ٍ": None,  # -atan harakat
        "َ": None, "ُ": None, "ِ": None,  # fatha/damma/kasra
        "ّ": None, "ْ": None,                  # shadda/sukun
    }
)


def arabic_normalize(t: str) -> str:
    """ArabicNormalizer.normalize (analysis/ar/ArabicNormalizer.java:56-87)."""
    return t.translate(_AR_NORM)


_FA_NORM = str.maketrans(
    {
        "ی": "ي", "ے": "ي",  # farsi yeh / yeh barree -> yeh
        "ک": "ك",                      # keheh -> kaf
        "ۀ": "ه", "ہ": "ه",  # heh+yeh / heh goal -> heh
        "ٔ": None,                          # hamza above
    }
)


def persian_normalize(t: str) -> str:
    """PersianNormalizer.normalize (analysis/fa/PersianNormalizer.java:47-75)."""
    return t.translate(_FA_NORM)


#: ArabicStemmer prefix/suffix tables (analysis/ar/ArabicStemmer.java:37-59)
_AR_PREFIXES = ("ال", "وال", "بال",
                "كال", "فال", "لل",
                "و")
_AR_SUFFIXES = ("ها", "ان", "ات",
                "ون", "ين", "يه",
                "ية", "ه", "ة", "ي")


def arabic_stem(w: str) -> str:
    """ArabicStemmer.stem (analysis/ar/ArabicStemmer.java:66-105): strip the
    first matching attached article/conjunction prefix (wa- needs length>=4,
    others length>=prefix+2), then one ordered pass over the suffix table,
    each match stripping if >=2 chars remain."""
    for p in _AR_PREFIXES:
        if w.startswith(p):
            if len(p) == 1:
                if len(w) >= 4:
                    w = w[len(p):]
                    break
            elif len(w) >= len(p) + 2:
                w = w[len(p):]
                break
    for s in _AR_SUFFIXES:
        if len(w) >= len(s) + 2 and w.endswith(s):
            w = w[: -len(s)]
    return w


def arabic_token(tok: str) -> str:
    t = fold_decimal_digits(tok.lower())
    if t in ARABIC_STOP:
        return STOP_HOLE
    return arabic_stem(arabic_normalize(t))


def persian_token(tok: str) -> str:
    t = persian_normalize(arabic_normalize(fold_decimal_digits(tok.lower())))
    if t in PERSIAN_STOP:
        return STOP_HOLE
    return t


CHAINS["arabic"] = ChainSpec(_ARABIC_TOKEN_PATTERN, arabic_token)
CHAINS["persian"] = ChainSpec(_ARABIC_TOKEN_PATTERN, persian_token)


# ---------------------------------------------------------------------------
# Bulgarian (analysis/bg/BulgarianAnalyzer.java:109-117: LowerCase -> Stop
# -> BulgarianStemmer — the light stemmer of Nakov, "BulStem")
# ---------------------------------------------------------------------------

from .langdata import BULGARIAN_STOP  # noqa: E402


def bulgarian_stem(w: str) -> str:
    """BulgarianStemmer.stem (analysis/bg/BulgarianStemmer.java:33-66)."""
    if len(w) < 4:
        return w
    if len(w) > 5 and w.endswith("ища"):
        return w[:-3]
    # article
    if len(w) > 6 and w.endswith("ият"):
        w = w[:-3]
    elif len(w) > 5 and w[-2:] in ("ът", "то", "те", "та", "ия"):
        w = w[:-2]
    elif len(w) > 4 and w.endswith("ят"):
        w = w[:-2]
    # plural
    if len(w) > 6 and w.endswith("овци"):
        w = w[:-3]
    elif len(w) > 6 and w.endswith("ове"):
        w = w[:-3]
    elif len(w) > 6 and w.endswith("еве"):
        w = w[:-3] + "й"
    elif len(w) > 5 and w.endswith("ища"):
        w = w[:-3]
    elif len(w) > 5 and w.endswith("та"):
        w = w[:-2]
    elif len(w) > 5 and w.endswith("ци"):
        w = w[:-2] + "к"
    elif len(w) > 5 and w.endswith("зи"):
        w = w[:-2] + "г"
    elif len(w) > 5 and w[-3] == "е" and w[-1] == "и":
        w = w[:-3] + "я" + w[-2]
    elif len(w) > 4 and w.endswith("си"):
        w = w[:-2] + "х"
    elif len(w) > 4 and w.endswith("и"):
        w = w[:-1]
    if len(w) > 3:
        if w.endswith("я"):
            w = w[:-1]
        if w[-1] in "аое":
            w = w[:-1]
    if len(w) > 4 and w.endswith("ен"):
        w = w[:-2] + "н"
    if len(w) > 5 and w[-2] == "ъ":
        w = w[:-2] + w[-1]
    return w


def bulgarian_token(tok: str) -> str:
    t = tok.lower()
    if t in BULGARIAN_STOP:
        return STOP_HOLE
    return bulgarian_stem(t)


CHAINS["bulgarian"] = ChainSpec(_RUSSIAN_TOKEN_PATTERN, bulgarian_token)


# ---------------------------------------------------------------------------
# Czech (analysis/cz/CzechAnalyzer.java:120-128: LowerCase -> Stop ->
# CzechStemmer — the light stemmer of Dolamic/Savoy)
# ---------------------------------------------------------------------------

from .langdata import CZECH_STOP  # noqa: E402

_CZ_CASE_5 = ("ech", "ich", "ích", "ého", "ěmi", "emi", "ému", "ěte", "ete",
              "ěti", "eti", "ího", "iho", "ími", "ímu", "imu", "ách", "ata",
              "aty", "ých", "ama", "ami", "ové", "ovi", "ými")
_CZ_CASE_4 = ("em", "es", "ém", "ím", "ům", "at", "ám", "os", "us", "ým",
              "mi", "ou")
_CZ_VOWEL = frozenset("aeiouůyáéíýě")


def czech_stem(w: str) -> str:
    """CzechStemmer.stem (analysis/cz/CzechStemmer.java:36-44): case
    removal, possessive removal, then palatalization normalization."""
    # removeCase
    if len(w) > 7 and w.endswith("atech"):
        w = w[:-5]
    elif len(w) > 6 and (w.endswith("ětem") or w.endswith("etem")
                         or w.endswith("atům")):
        w = w[:-4]
    elif len(w) > 5 and w[-3:] in _CZ_CASE_5:
        w = w[:-3]
    elif len(w) > 4 and w[-2:] in _CZ_CASE_4:
        w = w[:-2]
    elif len(w) > 3 and w[-1] in _CZ_VOWEL:
        w = w[:-1]
    # removePossessives
    if len(w) > 5 and (w.endswith("ov") or w.endswith("in")
                       or w.endswith("ův")):
        w = w[:-2]
    # normalize
    if not w:
        return w
    if w.endswith("čt"):
        return w[:-2] + "ck"
    if w.endswith("št"):
        return w[:-2] + "sk"
    if w[-1] in "cč":
        return w[:-1] + "k"
    if w[-1] in "zž":
        return w[:-1] + "h"
    if len(w) > 1 and w[-2] == "e":
        return w[:-2] + w[-1]
    if len(w) > 2 and w[-2] == "ů":
        return w[:-2] + "o" + w[-1]
    return w


def czech_token(tok: str) -> str:
    t = tok.lower()
    if t in CZECH_STOP:
        return STOP_HOLE
    return czech_stem(t)


CHAINS["czech"] = ChainSpec(_LATIN_EXT_TOKEN_PATTERN, czech_token)


# ---------------------------------------------------------------------------
# Sorani Kurdish (analysis/ckb/SoraniAnalyzer.java:121-130: the ONLY chain
# that normalizes BEFORE lowercasing — SoraniNormalization -> LowerCase ->
# DecimalDigit -> Stop -> SoraniStemmer)
# ---------------------------------------------------------------------------

from .langdata import SORANI_STOP  # noqa: E402

#: Sorani keeps ZWNJ in-token (the normalizer consumes it: heh+ZWNJ -> AE)
_CKB_ALPHA_RUN = "[" + _AR_L + "][" + _AR_L + _AR_M + "‌‎‏]*"
SORANI_TOKEN_RE = (
    r"(?:_*(?:" + _AR_NUM_RUN + r"|" + _CKB_ALPHA_RUN + r"|" + _ALPHA_RUN + r"))+_*"
)
_SORANI_TOKEN_PATTERN = re.compile(SORANI_TOKEN_RE)


def sorani_normalize(t: str) -> str:
    """SoraniNormalizer.normalize (analysis/ckb/SoraniNormalizer.java:57-105).

    yeh/dotless-yeh -> farsi yeh, kaf -> keheh, heh+ZWNJ -> ae (else ZWNJ
    deleted), final heh -> ae, teh marbuta -> ae, heh doachashmee -> heh,
    initial reh -> rreh, rreh-above -> rreh, harakat/tatweel/format deleted.
    """
    s = list(t)
    i = 0
    while i < len(s):
        ch = s[i]
        if ch in "يى":
            s[i] = "ی"
        elif ch == "ك":
            s[i] = "ک"
        elif ch == "‌":
            if i > 0 and s[i - 1] == "ه":
                s[i - 1] = "ە"
            del s[i]
            continue
        elif ch == "ه":
            if i == len(s) - 1:
                s[i] = "ە"
        elif ch == "ة":
            s[i] = "ە"
        elif ch == "ھ":
            s[i] = "ه"
        elif ch == "ر":
            if i == 0:
                s[i] = "ڕ"
        elif ch == "ڒ":
            s[i] = "ڕ"
        elif ch in "ـًٌٍَُِّْ" or _ud.category(ch) == "Cf":
            del s[i]
            continue
        i += 1
    return "".join(s)


def sorani_stem(w: str) -> str:
    """SoraniStemmer.stem (analysis/ckb/SoraniStemmer.java:30-93)."""
    n = len(w)
    # postposition
    if n > 5 and w.endswith("دا"):
        w = w[:-2]
    elif n > 4 and w.endswith("نا"):
        w = w[:-1]
    elif n > 6 and w.endswith("ەوە"):
        w = w[:-3]
    n = len(w)
    # possessive pronoun
    if n > 6 and (w.endswith("مان") or w.endswith("یان") or w.endswith("تان")):
        w = w[:-3]
    n = len(w)
    # the remaining groups form one if/elif chain in the reference
    if n > 6 and w.endswith("ێکی"):
        return w[:-3]
    if n > 7 and w.endswith("یەکی"):
        return w[:-4]
    if n > 5 and w.endswith("ێک"):
        return w[:-2]
    if n > 6 and w.endswith("یەک"):
        return w[:-3]
    if n > 6 and w.endswith("ەکە"):
        return w[:-3]
    if n > 5 and w.endswith("کە"):
        return w[:-2]
    if n > 7 and w.endswith("ەکان"):
        return w[:-4]
    if n > 6 and w.endswith("کان"):
        return w[:-3]
    if n > 7 and w.endswith("یانی"):
        return w[:-4]
    if n > 6 and w.endswith("انی"):
        return w[:-3]
    if n > 6 and w.endswith("یان"):
        return w[:-3]
    if n > 5 and w.endswith("ان"):
        return w[:-2]
    if n > 7 and w.endswith("یانە"):
        return w[:-4]
    if n > 6 and w.endswith("انە"):
        return w[:-3]
    if n > 5 and (w.endswith("ایە") or w.endswith("ەیە")):
        return w[:-2]
    if n > 4 and w.endswith("ە"):
        return w[:-1]
    if n > 4 and w.endswith("ی"):
        return w[:-1]
    return w


def sorani_token(tok: str) -> str:
    t = fold_decimal_digits(sorani_normalize(tok).lower())
    if t in SORANI_STOP:
        return STOP_HOLE
    return sorani_stem(t)


CHAINS["sorani"] = ChainSpec(_SORANI_TOKEN_PATTERN, sorani_token,
                             raw_case=True)


# ---------------------------------------------------------------------------
# Hindi & Bengali (analysis/hi/HindiAnalyzer.java:123-133,
# analysis/bn/BengaliAnalyzer.java:121-132): LowerCase -> DecimalDigit ->
# IndicNormalization -> {Hindi,Bengali}Normalization -> Stop -> Stem.
# Tokenizer: Devanagari/Bengali letter runs with combining signs (matras,
# virama, bindus — UAX#29 Extend) and ZWJ/ZWNJ continuing a run; native
# digit runs fold to ASCII via DecimalDigitFilter.
# ---------------------------------------------------------------------------

from .indic import (  # noqa: E402
    bengali_normalize, bengali_stem, hindi_normalize, hindi_stem,
    indic_normalize,
)
from .langdata import BENGALI_STOP, HINDI_STOP  # noqa: E402

_DEV_L = "ऄ-हऽॐक़-ॡॱ-ॿ"
_DEV_M = "ऀ-ःऺ-़ा-ॏ॑-ॗॢ-ॣ‌‍"
_DEV_D = "0-9०-९"
_BENG_L = "অ-ঌএ-ঐও-নপ-রলশ-হঽৎড়-ঢ়য়-ৡৰ-ৱ"
_BENG_M = "ঀ-ঃ়া-ৄে-ৈো-্ৗৢ-ৣ‌‍"
_BENG_D = "0-9০-৯"


def _indic_token_pattern(letters: str, marks: str, digits: str):
    num = "[" + digits + r"](?:(?:_*|[.,;'])[" + digits + "])*"
    alpha = "[" + letters + "][" + letters + marks + "]*"
    return re.compile(
        r"(?:_*(?:" + num + r"|" + alpha + r"|" + _ALPHA_RUN + r"))+_*"
    )


_HINDI_TOKEN_PATTERN = _indic_token_pattern(_DEV_L, _DEV_M, _DEV_D)
_BENGALI_TOKEN_PATTERN = _indic_token_pattern(_BENG_L, _BENG_M, _BENG_D)


def hindi_token(tok: str) -> str:
    t = hindi_normalize(indic_normalize(fold_decimal_digits(tok.lower())))
    if t in HINDI_STOP:
        return STOP_HOLE
    return hindi_stem(t)


def bengali_token(tok: str) -> str:
    t = bengali_normalize(indic_normalize(fold_decimal_digits(tok.lower())))
    if t in BENGALI_STOP:
        return STOP_HOLE
    return bengali_stem(t)


CHAINS["hindi"] = ChainSpec(_HINDI_TOKEN_PATTERN, hindi_token)
CHAINS["bengali"] = ChainSpec(_BENGALI_TOKEN_PATTERN, bengali_token)


# ---------------------------------------------------------------------------
# Indonesian (analysis/id/IndonesianAnalyzer.java:118-125: LowerCase ->
# Stop -> IndonesianStemmer, the Asian/Tan derivational stemmer)
# ---------------------------------------------------------------------------

from .langdata import INDONESIAN_STOP  # noqa: E402

_ID_VOWELS = frozenset("aeiou")


def indonesian_stem(w: str, derivational: bool = True) -> str:
    """IndonesianStemmer.stem (analysis/id/IndonesianStemmer.java:46-60):
    particle + possessive removal, then first-order prefix / suffix /
    second-order prefix with the rule-firing interlock flags."""
    syl = sum(1 for c in w if c in _ID_VOWELS)
    flags = 0
    KE, PENG, DI, MENG, TER, BER, PE = 1, 2, 4, 8, 16, 32, 64

    if syl > 2 and (w.endswith("kah") or w.endswith("lah")
                    or w.endswith("pun")):
        syl -= 1
        w = w[:-3]
    if syl > 2:
        if w.endswith("ku") or w.endswith("mu"):
            syl -= 1
            w = w[:-2]
        elif w.endswith("nya"):
            syl -= 1
            w = w[:-3]
    if not derivational:
        return w

    def first_order(w, syl, flags):
        if w.startswith("meng"):
            return w[4:], syl - 1, flags | MENG
        if w.startswith("meny") and len(w) > 4 and w[4] in _ID_VOWELS:
            return "s" + w[4:], syl - 1, flags | MENG
        if w.startswith("men"):
            return w[3:], syl - 1, flags | MENG
        if w.startswith("mem"):
            return w[3:], syl - 1, flags | MENG
        if w.startswith("me"):
            return w[2:], syl - 1, flags | MENG
        if w.startswith("peng"):
            return w[4:], syl - 1, flags | PENG
        if w.startswith("peny") and len(w) > 4 and w[4] in _ID_VOWELS:
            return "s" + w[4:], syl - 1, flags | PENG
        if w.startswith("peny"):
            return w[4:], syl - 1, flags | PENG
        if w.startswith("pen") and len(w) > 3 and w[3] in _ID_VOWELS:
            return "t" + w[3:], syl - 1, flags | PENG
        if w.startswith("pen"):
            return w[3:], syl - 1, flags | PENG
        if w.startswith("pem"):
            return w[3:], syl - 1, flags | PENG
        if w.startswith("di"):
            return w[2:], syl - 1, flags | DI
        if w.startswith("ter"):
            return w[3:], syl - 1, flags | TER
        if w.startswith("ke"):
            return w[2:], syl - 1, flags | KE
        return w, syl, flags

    def second_order(w, syl, flags):
        if w.startswith("ber"):
            return w[3:], syl - 1, flags | BER
        if w == "belajar":
            return w[3:], syl - 1, flags | BER
        if (w.startswith("be") and len(w) > 4 and w[2] not in _ID_VOWELS
                and w[3] == "e" and w[4] == "r"):
            return w[2:], syl - 1, flags | BER
        if w.startswith("per"):
            return w[3:], syl - 1, flags
        if w == "pelajar":
            return w[3:], syl - 1, flags
        if w.startswith("pe"):
            return w[2:], syl - 1, flags | PE
        return w, syl, flags

    def suffix(w, syl, flags):
        if w.endswith("kan") and not flags & (KE | PENG | PE):
            return w[:-3], syl - 1
        if w.endswith("an") and not flags & (DI | MENG | TER):
            return w[:-2], syl - 1
        if (w.endswith("i") and not w.endswith("si")
                and not flags & (BER | KE | PENG)):
            return w[:-1], syl - 1
        return w, syl

    old = w
    if syl > 2:
        w, syl, flags = first_order(w, syl, flags)
    if old != w:  # a rule fired: suffix, then second-order
        old = w
        if syl > 2:
            w, syl = suffix(w, syl, flags)
        if old != w and syl > 2:
            w, syl, flags = second_order(w, syl, flags)
    else:
        if syl > 2:
            w, syl, flags = second_order(w, syl, flags)
        if syl > 2:
            w, syl = suffix(w, syl, flags)
    return w


def indonesian_token(tok: str) -> str:
    t = tok.lower()
    if t in INDONESIAN_STOP:
        return STOP_HOLE
    return indonesian_stem(t)


CHAINS["indonesian"] = ChainSpec(_LANG_TOKEN_PATTERN, indonesian_token)


# ---------------------------------------------------------------------------
# Latvian (analysis/lv/LatvianAnalyzer.java:119-127: LowerCase -> Stop ->
# LatvianStemmer — light stemmer with palatalization unwinding)
# ---------------------------------------------------------------------------

from .langdata import LATVIAN_STOP  # noqa: E402

#: (suffix, vowel_count_required_exclusive, palatalizes)
_LV_AFFIXES = (
    ("ajiem", 3, False), ("ajai", 3, False), ("ajam", 2, False),
    ("ajām", 2, False), ("ajos", 2, False), ("ajās", 2, False),
    ("iem", 2, True), ("ajā", 2, False), ("ais", 2, False),
    ("ai", 2, False), ("ei", 2, False), ("ām", 1, False),
    ("am", 1, False), ("ēm", 1, False), ("īm", 1, False),
    ("im", 1, False), ("um", 1, False), ("us", 1, True),
    ("as", 1, False), ("ās", 1, False), ("es", 1, False),
    ("os", 1, True), ("ij", 1, False), ("īs", 1, False),
    ("ēs", 1, False), ("is", 1, False), ("ie", 1, False),
    ("u", 1, True), ("a", 1, True), ("i", 1, True),
    ("e", 1, False), ("ā", 1, False), ("ē", 1, False),
    ("ī", 1, False), ("ū", 1, False), ("o", 1, False),
    ("s", 0, False), ("š", 0, False),
)
_LV_VOWELS = frozenset("aeiouāīēū")


def _lv_unpalatalize(w: str, removed_first: str) -> str:
    """LatvianStemmer.unpalatalize (analysis/lv/LatvianStemmer.java:79-133).

    removed_first is the first character of the stripped affix (the
    reference peeks at s[len], the slot just past the new length)."""
    if removed_first == "u":
        if w.endswith("kš"):
            return w[:-2] + "kst"
        if w.endswith("ņņ"):
            return w[:-2] + "nn"
    if w[-2:] in ("pj", "bj", "mj", "vj"):
        return w[:-1]
    if w.endswith("šņ"):
        return w[:-2] + "sn"
    if w.endswith("žņ"):
        return w[:-2] + "zn"
    if w.endswith("šļ"):
        return w[:-2] + "sl"
    if w.endswith("žļ"):
        return w[:-2] + "zl"
    if w.endswith("ļņ"):
        return w[:-2] + "ln"
    if w.endswith("ļļ"):
        return w[:-2] + "ll"
    if w.endswith("č"):
        return w[:-1] + "c"
    if w.endswith("ļ"):
        return w[:-1] + "l"
    if w.endswith("ņ"):
        return w[:-1] + "n"
    return w


def latvian_stem(w: str) -> str:
    """LatvianStemmer.stem (analysis/lv/LatvianStemmer.java:34-45): first
    matching affix with enough remaining vowels strips; palatalizing
    affixes then unwind the palatalization."""
    nv = sum(1 for c in w if c in _LV_VOWELS)
    for suf, vc, pal in _LV_AFFIXES:
        if nv > vc and len(w) >= len(suf) + 3 and w.endswith(suf):
            stem = w[: -len(suf)]
            return _lv_unpalatalize(stem, suf[0]) if pal else stem
    return w


def latvian_token(tok: str) -> str:
    t = tok.lower()
    if t in LATVIAN_STOP:
        return STOP_HOLE
    return latvian_stem(t)


CHAINS["latvian"] = ChainSpec(_LATIN_EXT_TOKEN_PATTERN, latvian_token)


# ---------------------------------------------------------------------------
# Greek (analysis/el/GreekAnalyzer.java:84-91: GreekLowerCase -> Stop ->
# GreekStemmer). GreekLowerCaseFilter both lowercases and strips the
# tonos/dialytika diacritics, folding final sigma to sigma.
# ---------------------------------------------------------------------------

from .langdata import GREEK_STOP  # noqa: E402

#: GreekLowerCaseFilter.lowerCase (analysis/el/GreekLowerCaseFilter.java:
#: 49-103); applied per codepoint AFTER the table, default Char.toLowerCase
_EL_MAP = str.maketrans({
    "ς": "σ",
    "Ά": "α", "ά": "α",
    "Έ": "ε", "έ": "ε",
    "Ή": "η", "ή": "η",
    "Ί": "ι", "Ϊ": "ι", "ί": "ι", "ϊ": "ι", "ΐ": "ι",
    "Ύ": "υ", "Ϋ": "υ", "ύ": "υ", "ϋ": "υ", "ΰ": "υ",
    "Ό": "ο", "ό": "ο",
    "Ώ": "ω", "ώ": "ω",
    "΢": "ς",
})


def greek_lower(t: str) -> str:
    """Python ``str.lower`` then the table: equivalent to the reference's
    per-codepoint switch-then-toLowerCase — every capital table row lowers
    onto another table row, and running the table last undoes Python's
    contextual final-sigma (the reference lowers Σ to σ positionlessly)."""
    return t.lower().translate(_EL_MAP)


_GREEK = "Ͱ-ͳͶ-ͷͻ-ͽͿΆΈ-Ͽἀ-῾"
_GREEK_ALPHA_RUN = (
    "[" + _L + _GREEK + "](?:(?:_*|[:.'’])[" + _L + _GREEK + "])*"
)
GREEK_TOKEN_RE = r"(?:_*(?:" + _NUM_RUN + r"|" + _GREEK_ALPHA_RUN + r"))+_*"
_GREEK_TOKEN_PATTERN = re.compile(GREEK_TOKEN_RE)


def greek_token(tok: str) -> str:
    from .greek import greek_stem

    t = greek_lower(tok)
    if t in GREEK_STOP:
        return STOP_HOLE
    return greek_stem(t)


CHAINS["greek"] = ChainSpec(_GREEK_TOKEN_PATTERN, greek_token,
                            raw_case=True)


# ---------------------------------------------------------------------------
# Brazilian Portuguese (analysis/br/BrazilianAnalyzer.java:114-121:
# LowerCase -> Stop -> BrazilianStemFilter; a null stem keeps the token)
# ---------------------------------------------------------------------------

from .langdata import BRAZILIAN_STOP  # noqa: E402


def brazilian_token(tok: str) -> str:
    from .brazilian import brazilian_stem

    t = tok.lower()
    if t in BRAZILIAN_STOP:
        return STOP_HOLE
    st = brazilian_stem(t)
    return t if st is None else st


CHAINS["brazilian"] = ChainSpec(_LANG_TOKEN_PATTERN, brazilian_token)


# ---------------------------------------------------------------------------
# Galician (analysis/gl/GalicianAnalyzer.java:118-125: LowerCase -> Stop ->
# GalicianStemFilter, RSLP rules) and the Portuguese RSLP variant
# (analysis/pt/PortugueseStemmer.java — selectable alternative to the
# default light stemmer already registered as "portuguese")
# ---------------------------------------------------------------------------

from .langdata import GALICIAN_STOP  # noqa: E402


def galician_token(tok: str) -> str:
    from .rslp import galician_stem

    t = tok.lower()
    if t in GALICIAN_STOP:
        return STOP_HOLE
    return galician_stem(t)


def portuguese_rslp_token(tok: str) -> str:
    from .rslp import portuguese_rslp_stem

    t = tok.lower()
    if t in PORTUGUESE_STOP:
        return STOP_HOLE
    return portuguese_rslp_stem(t)


CHAINS["galician"] = ChainSpec(_LANG_TOKEN_PATTERN, galician_token)
CHAINS["portuguese_rslp"] = ChainSpec(_LANG_TOKEN_PATTERN,
                                      portuguese_rslp_token)


# ---------------------------------------------------------------------------
# Irish (analysis/ga/IrishAnalyzer.java:118-129): hyphenation-fragment stop
# (h/n/t tokens from t-athair splits) -> Elision (d'/m'/b') ->
# IrishLowerCase (n/t + capital vowel inserts the hyphen back:
# nAthair -> n-athair) -> Stop -> snowball Irish.
# ---------------------------------------------------------------------------

from .langdata import IRISH_STOP  # noqa: E402

_GA_ARTICLES = frozenset(("d", "m", "b"))
_GA_HYPHENATIONS = frozenset(("h", "n", "t"))
_GA_UPPER_V = frozenset("AEIOUÁÉÍÓÚ")


def irish_lower(t: str) -> str:
    """IrishLowerCaseFilter (analysis/ga/IrishLowerCaseFilter.java:42-60):
    n/t prefix before a capital vowel gets an inserted hyphen (undoing the
    tokenizer's split semantics), then per-char lowercase from there."""
    if len(t) > 1 and t[0] in "nt" and t[1] in _GA_UPPER_V:
        return t[0] + "-" + t[1:].lower()
    return t.lower()


def irish_token(tok: str) -> str:
    from .snowball import irish_stem

    if tok.lower() in _GA_HYPHENATIONS:
        return STOP_HOLE
    t = elide(tok, _GA_ARTICLES)
    t = irish_lower(t)
    if t in IRISH_STOP:
        return STOP_HOLE
    return irish_stem(t)


CHAINS["irish"] = ChainSpec(_LANG_TOKEN_PATTERN, irish_token,
                            raw_case=True)


# ---------------------------------------------------------------------------
# Armenian (analysis/hy/ArmenianAnalyzer.java:118-125: LowerCase -> Stop ->
# snowball Armenian)
# ---------------------------------------------------------------------------

from .langdata import ARMENIAN_STOP  # noqa: E402

_HY_SCRIPT = "Ա-Ֆա-և"
_HY_ALPHA_RUN = (
    "[" + _L + _HY_SCRIPT + "](?:(?:_*|[:.'’])[" + _L + _HY_SCRIPT + "])*"
)
ARMENIAN_TOKEN_RE = r"(?:_*(?:" + _NUM_RUN + r"|" + _HY_ALPHA_RUN + r"))+_*"
_ARMENIAN_TOKEN_PATTERN = re.compile(ARMENIAN_TOKEN_RE)


def armenian_token(tok: str) -> str:
    from .snowball import armenian_stem

    t = tok.lower()
    if t in ARMENIAN_STOP:
        return STOP_HOLE
    return armenian_stem(t)


CHAINS["armenian"] = ChainSpec(_ARMENIAN_TOKEN_PATTERN, armenian_token)


# ---------------------------------------------------------------------------
# Catalan (analysis/ca/CatalanAnalyzer.java:122-130: Elision (d/l/m/n/s/t)
# -> LowerCase -> Stop -> snowball Catalan)
# ---------------------------------------------------------------------------

from .langdata import CATALAN_STOP  # noqa: E402

_CA_ARTICLES = frozenset(("d", "l", "m", "n", "s", "t"))


def catalan_token(tok: str) -> str:
    from .snowball import catalan_stem

    t = elide(tok, _CA_ARTICLES).lower()
    if t in CATALAN_STOP:
        return STOP_HOLE
    return catalan_stem(t)


CHAINS["catalan"] = ChainSpec(_LANG_TOKEN_PATTERN, catalan_token)


# ---------------------------------------------------------------------------
# Basque & Lithuanian (analysis/eu/BasqueAnalyzer.java:108-116,
# analysis/lt/LithuanianAnalyzer.java:118-126: LowerCase -> Stop ->
# snowball)
# ---------------------------------------------------------------------------

from .langdata import BASQUE_STOP, LITHUANIAN_STOP  # noqa: E402


def basque_token(tok: str) -> str:
    from .snowball import basque_stem

    t = tok.lower()
    if t in BASQUE_STOP:
        return STOP_HOLE
    return basque_stem(t)


def lithuanian_token(tok: str) -> str:
    from .snowball import lithuanian_stem

    t = tok.lower()
    if t in LITHUANIAN_STOP:
        return STOP_HOLE
    return lithuanian_stem(t)


CHAINS["basque"] = ChainSpec(_LANG_TOKEN_PATTERN, basque_token)
CHAINS["lithuanian"] = ChainSpec(_LATIN_EXT_TOKEN_PATTERN, lithuanian_token)


# ---------------------------------------------------------------------------
# Estonian (analysis/et/EstonianAnalyzer.java:120-128: LowerCase -> Stop ->
# snowball Estonian)
# ---------------------------------------------------------------------------

from .langdata import ESTONIAN_STOP  # noqa: E402


def estonian_token(tok: str) -> str:
    from .snowball import estonian_stem

    t = tok.lower()
    if t in ESTONIAN_STOP:
        return STOP_HOLE
    return estonian_stem(t)


CHAINS["estonian"] = ChainSpec(_LATIN_EXT_TOKEN_PATTERN, estonian_token)


# ---------------------------------------------------------------------------
# CJK (analysis/cjk/CJKAnalyzer.java:90-99): CJKWidthFilter -> LowerCase ->
# CJKBigramFilter (HAN|HIRAGANA|KATAKANA|HANGUL) -> Stop. Re-expressed as a
# text-level scan: width-fold first (it can merge halfwidth kana + voiced
# marks), then contiguous runs of the four flagged scripts emit n-1
# overlapping bigrams (a lone char emits a unigram); other tokens pass
# through the standard path. Offset gaps (spaces, punctuation, non-CJK
# neighbors) break runs exactly as the filter's offset-contiguity check.
# ---------------------------------------------------------------------------

from .langdata import CJK_STOP  # noqa: E402

#: CJKWidthFilter.KANA_NORM (analysis/cjk/CJKWidthFilter.java:33-46)
_KANA_NORM = [
    0x30FB, 0x30F2, 0x30A1, 0x30A3, 0x30A5, 0x30A7, 0x30A9, 0x30E3, 0x30E5,
    0x30E7, 0x30C3, 0x30FC, 0x30A2, 0x30A4, 0x30A6, 0x30A8, 0x30AA, 0x30AB,
    0x30AD, 0x30AF, 0x30B1, 0x30B3, 0x30B5, 0x30B7, 0x30B9, 0x30BB, 0x30BD,
    0x30BF, 0x30C1, 0x30C4, 0x30C6, 0x30C8, 0x30CA, 0x30CB, 0x30CC, 0x30CD,
    0x30CE, 0x30CF, 0x30D2, 0x30D5, 0x30D8, 0x30DB, 0x30DE, 0x30DF, 0x30E0,
    0x30E1, 0x30E2, 0x30E4, 0x30E6, 0x30E8, 0x30E9, 0x30EA, 0x30EB, 0x30EC,
    0x30ED, 0x30EF, 0x30F3, 0x3099, 0x309A,
]
#: kana combining diffs over 0x30A6-0x30FD (CJKWidthFilter.java:76-93)
_KANA_VOICED = [
    78, 0, 0, 0, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0,
    1, 0, 1, 0, 1, 0, 0, 1, 0, 1, 0, 1, 0, 0, 0, 0, 0, 0, 1, 0, 0, 1, 0,
    0, 1, 0, 0, 1, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 8, 8, 8, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1,
]
_KANA_HALF_VOICED = [
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 2, 0, 0, 2, 0,
    0, 2, 0, 0, 2, 0, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
]


def cjk_width_fold(t: str) -> str:
    """CJKWidthFilter: fullwidth ASCII -> ASCII; halfwidth katakana ->
    fullwidth, composing voiced/semi-voiced marks with the previous kana."""
    if not any(0xFF01 <= ord(c) <= 0xFF9F for c in t):
        return t
    out: List[str] = []
    for ch in t:
        o = ord(ch)
        if 0xFF01 <= o <= 0xFF5E:
            out.append(chr(o - 0xFEE0))
        elif 0xFF65 <= o <= 0xFF9F:
            if o in (0xFF9E, 0xFF9F) and out:
                prev = ord(out[-1])
                if 0x30A6 <= prev <= 0x30FD:
                    d = (_KANA_HALF_VOICED if o == 0xFF9F
                         else _KANA_VOICED)[prev - 0x30A6]
                    if d:
                        out[-1] = chr(prev + d)
                        continue
                out.append(chr(o - 0xFF9E + 0x3099))
            else:
                out.append(chr(_KANA_NORM[o - 0xFF65]))
        else:
            out.append(ch)
    return "".join(out)


#: the four bigrammed script classes (per the StandardTokenizer types the
#: filter accepts); 3099-309A continue a run (combining kana marks)
_CJK_RUN = (
    "\u3041-\u3096\u309D-\u309E"      # hiragana
    "\u30A1-\u30FA\u30FC-\u30FE\u31F0-\u31FF"  # katakana
    "\u3400-\u4DBF\u4E00-\u9FFF\uF900-\uFAFF\u3005\u3007"  # han (BMP)
    "\U00020000-\U0002FA1F"            # han (supplementary ideographs)
    "\uAC00-\uD7A3\u1100-\u11FF\u3130-\u318F"  # hangul
)
#: non-CJK tokens pass through the standard path: one multi-script letter
#: run (Latin/Cyrillic/Greek/Armenian with the UAX#29 joiners), an
#: Arabic-script run, or a digit run
_CJK_OTHER_L = _L_EXT + _CYR + _GREEK + _HY_SCRIPT
_CJK_OTHER_RUN = (
    r"(?:_*(?:" + _NUM_RUN
    + r"|[" + _CJK_OTHER_L + r"](?:(?:_*|[:.'\u2019])[" + _CJK_OTHER_L + r"])*"
    + r"|" + _AR_ALPHA_RUN + r"))+_*"
)
_CJK_SEG_PATTERN = re.compile(
    "([" + _CJK_RUN + "][" + _CJK_RUN + "\u3099-\u309A]*)"
    + r"|(" + _CJK_OTHER_RUN + r")"
)


def cjk_analyze(text: str) -> List[str]:
    text = cjk_width_fold(text)
    out: List[str] = []
    for m in _CJK_SEG_PATTERN.finditer(text):
        run = m.group(1)
        if run is not None:
            if len(run) == 1:
                toks = [run]
            else:
                toks = [run[i:i + 2] for i in range(len(run) - 1)]
        else:
            toks = [m.group(2).lower()]
        for t in toks:
            out.append(STOP_HOLE if t in CJK_STOP else t)
    return out


def cjk_token(tok: str) -> str:
    """Single-token path (MemoryIndex etc.): width-fold + lowercase +
    stop; bigramming happens in :func:`cjk_analyze`."""
    t = cjk_width_fold(tok).lower()
    return STOP_HOLE if t in CJK_STOP else t


CHAINS["cjk"] = ChainSpec(_CJK_SEG_PATTERN, cjk_token, raw_case=True,
                          analyze=cjk_analyze)


# ---------------------------------------------------------------------------
# Japanese dictionary tier (analysis/kuromoji/JapaneseAnalyzer.java:
# JapaneseTokenizer(search mode) -> PartOfSpeechStop -> CJKWidth -> Stop ->
# KatakanaStem -> Lower). The Viterbi lattice machinery lives in
# kuromoji.py; the bundled MeCab-IPADIC dictionary is NOT shipped — the
# chain runs over kuromoji.demo_dictionary() by default and accepts any
# dictionary through the same seam (see kuromoji.py module doc). The
# bigram "cjk" chain remains the default CJK path.
# ---------------------------------------------------------------------------

from . import kuromoji as _kuro  # noqa: E402

#: JapanesePartOfSpeechStopFilter analog: the particle / aux-verb / symbol
#: POS classes from the reference's stoptags.txt that the demo lexicon tags
JAPANESE_STOPTAGS = frozenset(["助詞", "助動詞", "記号"])

_KATAKANA_MIN_LENGTH = 4  # JapaneseKatakanaStemFilter.DEFAULT_MINIMUM_LENGTH


def japanese_katakana_stem(t: str) -> str:
    """JapaneseKatakanaStemFilter.stem: all-katakana terms of length >= 4
    drop a trailing prolonged sound mark (U+30FC)."""
    if (
        len(t) >= _KATAKANA_MIN_LENGTH
        and t[-1] == "ー"
        and all(0x30A1 <= ord(c) <= 0x30FE for c in t)
    ):
        return t[:-1]
    return t


_JA_RUN = (
    "ぁ-ゟ゠-ヿㇰ-ㇿ"
    "㐀-䶿一-鿿々〇"
)
_JA_SEG_PATTERN = re.compile(
    "([" + _JA_RUN + "]+)" + r"|(" + _CJK_OTHER_RUN + r")"
)

_JA_DEMO_DIC = None


def _ja_dictionary():
    global _JA_DEMO_DIC
    if _JA_DEMO_DIC is None:
        _JA_DEMO_DIC = _kuro.demo_dictionary()
    return _JA_DEMO_DIC


def japanese_analyze(text: str) -> List[str]:
    text = cjk_width_fold(text)
    out: List[str] = []
    for m in _JA_SEG_PATTERN.finditer(text):
        run = m.group(1)
        if run is not None:
            for tok in _kuro.segment(run, _ja_dictionary(), mode="search"):
                if tok.pos in JAPANESE_STOPTAGS:
                    out.append(STOP_HOLE)  # position hole, like stopwords
                else:
                    out.append(japanese_katakana_stem(tok.surface))
        else:
            out.append(m.group(2).lower())
    return out


def japanese_token(tok: str) -> str:
    """Single-token path: width-fold + katakana stem (segmentation happens
    in :func:`japanese_analyze`)."""
    return japanese_katakana_stem(cjk_width_fold(tok).lower())


CHAINS["japanese"] = ChainSpec(_JA_SEG_PATTERN, japanese_token,
                               raw_case=True, analyze=japanese_analyze)


# ---------------------------------------------------------------------------
# Korean dictionary tier (analysis/nori/KoreanAnalyzer.java:72-79:
# KoreanTokenizer(decompound=DISCARD) -> KoreanPartOfSpeechStopFilter ->
# KoreanReadingFormFilter -> Lower). The Viterbi lattice + space-penalty
# + decompound machinery lives in korean.py; the bundled mecab-ko-dic
# dictionary is NOT shipped — the chain runs over
# korean.demo_dictionary() by default and accepts any dictionary through
# the same seam (see korean.py module doc). The bigram "cjk" chain
# remains the default CJK path.
# ---------------------------------------------------------------------------

from . import korean as _nori  # noqa: E402

#: Hangul + Hanja runs; spaces INSIDE a Korean run stay in the segment so
#: the lattice can apply the reference's space penalty.
_KO_RUN = "가-힣ᄀ-ᇿ㄰-ㆎ㐀-䶿一-鿿豈-﫿"
_KO_SEG_PATTERN = re.compile(
    "([" + _KO_RUN + "](?:[ ]*[" + _KO_RUN + "])*)"
    + r"|(" + _CJK_OTHER_RUN + r")"
)

_KO_DEMO_DIC = None


def _ko_dictionary():
    global _KO_DEMO_DIC
    if _KO_DEMO_DIC is None:
        _KO_DEMO_DIC = _nori.demo_dictionary()
    return _KO_DEMO_DIC


def korean_analyze(text: str) -> List[str]:
    text = cjk_width_fold(text)
    out: List[str] = []
    for m in _KO_SEG_PATTERN.finditer(text):
        run = m.group(1)
        if run is not None:
            for tok in _nori.korean_analyze_tokens(run, _ko_dictionary()):
                out.append(STOP_HOLE if tok is None else tok)
        else:
            out.append(m.group(2).lower())
    return out


def korean_token(tok: str) -> str:
    """Single-token path: width-fold + lower (segmentation, POS stop and
    reading substitution happen in :func:`korean_analyze`)."""
    return cjk_width_fold(tok).lower()


CHAINS["korean"] = ChainSpec(_KO_SEG_PATTERN, korean_token,
                             raw_case=True, analyze=korean_analyze)


# ---------------------------------------------------------------------------
# Chinese HMM tier (analysis/smartcn/SmartChineseAnalyzer.java:
# HMMChineseTokenizer -> StopFilter(own list) -> PorterStemFilter — the
# porter step only ever sees non-CJK tokens). The hidden-Markov bigram
# lattice lives in smartcn.py; the bundled GB2312 coredict/bigramdict is
# NOT shipped — the chain runs over smartcn.demo_dictionary() by default
# and accepts any dictionary through the same seam (see smartcn.py
# module doc). The bigram "cjk" chain remains the default CJK path.
# ---------------------------------------------------------------------------

from . import smartcn as _smartcn  # noqa: E402
from .stem import porter_stem as _zh_porter  # noqa: E402

_ZH_RUN = "一-鿥"
_ZH_SEG_PATTERN = re.compile(
    "([" + _ZH_RUN + "]+)" + r"|(" + _CJK_OTHER_RUN + r")"
)

_ZH_DEMO_DIC = None


def _zh_dictionary():
    global _ZH_DEMO_DIC
    if _ZH_DEMO_DIC is None:
        _ZH_DEMO_DIC = _smartcn.demo_dictionary()
    return _ZH_DEMO_DIC


def chinese_analyze(text: str) -> List[str]:
    text = cjk_width_fold(text)
    out: List[str] = []
    for m in _ZH_SEG_PATTERN.finditer(text):
        run = m.group(1)
        if run is not None:
            out.extend(
                _smartcn.chinese_analyze_tokens(run, _zh_dictionary())
            )
        else:
            out.append(_zh_porter(m.group(2).lower()))
    return out


def chinese_token(tok: str) -> str:
    """Single-token path: width-fold + lower; non-CJK terms porter-stem
    (SmartChineseAnalyzer's PorterStemFilter reaches only those)."""
    t = cjk_width_fold(tok).lower()
    if _ZH_SEG_PATTERN.match(t) and t and "一" <= t[0] <= "龥":
        return t
    return _zh_porter(t)


CHAINS["chinese"] = ChainSpec(_ZH_SEG_PATTERN, chinese_token,
                              raw_case=True, analyze=chinese_analyze)


# ---------------------------------------------------------------------------
# Light/minimal stemmer variants (analysis/{ru,sv,fr,de,fi,hu,no,pt,gl}/
# *Light* / *Minimal* filters): same tokenizer + stopset as the parent
# chain, alternative stemmer — selectable exactly like the reference's
# per-field filter choice. Each stemmer is validated against the
# reference's vocabulary zips (247k pairs total) in tests.
# ---------------------------------------------------------------------------

def _variant(parent_stop, stem_import, pattern, lower=None):
    def token(tok: str) -> str:
        from . import lightstem

        t = (lower or str.lower)(tok)
        if t in parent_stop:
            return STOP_HOLE
        return getattr(lightstem, stem_import)(t)

    return ChainSpec(pattern, token)


CHAINS["russian_light"] = _variant(RUSSIAN_STOP, "russian_light_stem",
                                   _RUSSIAN_TOKEN_PATTERN)
CHAINS["swedish_light"] = _variant(SWEDISH_STOP, "swedish_light_stem",
                                   _LANG_TOKEN_PATTERN)
def french_minimal_token(tok: str) -> str:
    from .lightstem import french_minimal_stem

    t = elide(tok).lower()
    if t in FRENCH_STOP:
        return STOP_HOLE
    return french_minimal_stem(t)


CHAINS["french_minimal"] = ChainSpec(_LANG_TOKEN_PATTERN,
                                     french_minimal_token)
CHAINS["german_minimal"] = _variant(GERMAN_STOP, "german_minimal_stem",
                                    _LANG_TOKEN_PATTERN)
CHAINS["finnish_light"] = _variant(FINNISH_STOP, "finnish_light_stem",
                                   _LATIN_EXT_TOKEN_PATTERN)
CHAINS["hungarian_light"] = _variant(HUNGARIAN_STOP, "hungarian_light_stem",
                                     _LATIN_EXT_TOKEN_PATTERN)
CHAINS["norwegian_light"] = _variant(NORWEGIAN_STOP, "norwegian_light_stem",
                                     _LANG_TOKEN_PATTERN)
CHAINS["norwegian_minimal"] = _variant(NORWEGIAN_STOP,
                                       "norwegian_minimal_stem",
                                       _LANG_TOKEN_PATTERN)
CHAINS["portuguese_minimal"] = _variant(PORTUGUESE_STOP,
                                        "portuguese_minimal_stem",
                                        _LANG_TOKEN_PATTERN)
CHAINS["galician_minimal"] = _variant(GALICIAN_STOP, "galician_minimal_stem",
                                      _LANG_TOKEN_PATTERN)


def english_minimal_token(tok: str) -> str:
    """EnglishMinimalStemFilter variant (S-stemmer): lowercase + plural
    strip; stopwords stay IndexConfig-driven like the english chain."""
    from .lightstem import english_minimal_stem

    return english_minimal_stem(tok.lower())


CHAINS["english_minimal"] = ChainSpec(_LANG_TOKEN_PATTERN,
                                      english_minimal_token)


def nepali_token(tok: str) -> str:
    """Snowball Nepali over the Devanagari tokenizer (the reference ships
    it as a SnowballFilter language; no analyzer/stopset exists)."""
    from .snowball import nepali_stem

    return nepali_stem(fold_decimal_digits(tok.lower()))


CHAINS["nepali"] = ChainSpec(_HINDI_TOKEN_PATTERN, nepali_token)


def german_snowball_token(tok: str) -> str:
    from .snowball import german_snowball_stem

    t = tok.lower()
    if t in GERMAN_STOP:
        return STOP_HOLE
    return german_snowball_stem(t)


def german2_token(tok: str) -> str:
    from .snowball import german2_stem

    t = tok.lower()
    if t in GERMAN_STOP:
        return STOP_HOLE
    return german2_stem(t)


CHAINS["german_snowball"] = ChainSpec(_LANG_TOKEN_PATTERN,
                                      german_snowball_token)
CHAINS["german2"] = ChainSpec(_LANG_TOKEN_PATTERN, german2_token)


def english_snowball_token(tok: str) -> str:
    """Snowball English / Porter2 variant (SnowballFilter('English')):
    lowercase + the Porter2 machine (its prelude strips the leading
    apostrophe; stopwords stay IndexConfig-driven like 'english')."""
    from .snowball import english_snowball_stem

    return english_snowball_stem(tok.lower())


CHAINS["english_snowball"] = ChainSpec(_LANG_TOKEN_PATTERN,
                                       english_snowball_token)


def spanish_snowball_token(tok: str) -> str:
    from .snowball import spanish_snowball_stem

    t = tok.lower()
    if t in SPANISH_STOP:
        return STOP_HOLE
    return spanish_snowball_stem(t)


def italian_snowball_token(tok: str) -> str:
    from .snowball import italian_snowball_stem

    t = elide(tok, ITALIAN_ARTICLES).lower()
    if t in ITALIAN_STOP:
        return STOP_HOLE
    return italian_snowball_stem(t)


def portuguese_snowball_token(tok: str) -> str:
    from .snowball import portuguese_snowball_stem

    t = tok.lower()
    if t in PORTUGUESE_STOP:
        return STOP_HOLE
    return portuguese_snowball_stem(t)


CHAINS["spanish_snowball"] = ChainSpec(_LANG_TOKEN_PATTERN,
                                       spanish_snowball_token)
CHAINS["italian_snowball"] = ChainSpec(_LANG_TOKEN_PATTERN,
                                       italian_snowball_token)
CHAINS["portuguese_snowball"] = ChainSpec(_LANG_TOKEN_PATTERN,
                                          portuguese_snowball_token)


def french_snowball_token(tok: str) -> str:
    from .snowball import french_snowball_stem

    t = elide(tok).lower()
    if t in FRENCH_STOP:
        return STOP_HOLE
    return french_snowball_stem(t)


CHAINS["french_snowball"] = ChainSpec(_LANG_TOKEN_PATTERN,
                                      french_snowball_token)


def lovins_token(tok: str) -> str:
    """Lovins (1968) English stemmer variant (SnowballFilter('Lovins'))."""
    from .lovins import lovins_stem

    return lovins_stem(tok.lower())


CHAINS["lovins"] = ChainSpec(_LANG_TOKEN_PATTERN, lovins_token)


def english_kstem_token(tok: str) -> str:
    """KStemFilter variant (analysis/en/KStemFilter.java): lowercase + the
    Krovetz dictionary-validated stemmer; stopwords stay IndexConfig-driven
    like the other English chains."""
    from .kstem import kstem

    return kstem(tok.lower())


CHAINS["english_kstem"] = ChainSpec(_LANG_TOKEN_PATTERN, english_kstem_token)


def dutch_kp_token(tok: str) -> str:
    """Kraaij-Pohlmann Dutch variant (SnowballFilter('Kp')): stop + the Kp
    cursor machine (kp.py), sharing the dutch chain's stopset."""
    from .kp import kp_stem

    t = tok.lower()
    if t in DUTCH_STOP:
        return STOP_HOLE
    return kp_stem(t)


CHAINS["dutch_kp"] = ChainSpec(_LANG_TOKEN_PATTERN, dutch_kp_token)


# ---------------------------------------------------------------------------
# Serbian (SerbianAnalyzer: standard -> lower -> stop -> snowball Serbian ->
# SerbianNormalizationFilter; analysis/sr/SerbianAnalyzer.java:59-68)
# ---------------------------------------------------------------------------

#: analysis/sr/stopwords.txt (reference resource data, embedded for parity)
SERBIAN_STOP = frozenset((
    "i", "ili", "a", "ali", "pa", "biti", "ne", "jesam", "sam", "jesi", "si",
    "je", "jesmo", "smo", "jeste", "ste", "jesu", "su", "nijesam", "nisam",
    "nijesi", "nisi", "nije", "nijesmo", "nismo", "nijeste", "niste",
    "nijesu", "nisu", "budem", "budeš", "bude", "budemo", "budete", "budu",
    "budes", "bih", "bi", "bismo", "biste", "biše", "bise", "bio", "bili",
    "budimo", "budite", "bila", "bilo", "bile", "ću", "ćeš", "će", "ćemo",
    "ćete", "neću", "nećeš", "neće", "nećemo", "nećete", "cu", "ces", "ce",
    "cemo", "cete", "necu", "neces", "nece", "necemo", "necete", "mogu",
    "možeš", "može", "možemo", "možete", "mozes", "moze", "mozemo", "mozete",
    "и", "или", "а", "али", "па", "бити", "не", "јесам", "сам", "јеси", "си",
    "је", "јесмо", "смо", "јесте", "сте", "јесу", "су", "нијесам", "нисам",
    "нијеси", "ниси", "није", "нијесмо", "нисмо", "нијесте", "нисте",
    "нијесу", "нису", "будем", "будеш", "буде", "будемо", "будете", "буду",
    "будес", "бих", "би", "бисмо", "бисте", "бише", "бисе", "био", "били",
    "будимо", "будите", "била", "било", "биле", "ћу", "ћеш", "ће", "ћемо",
    "ћете", "нећу", "нећеш", "неће", "нећемо", "нећете", "цу", "цес", "це",
    "цемо", "цете", "нецу", "нецес", "неце", "нецемо", "нецете", "могу",
    "можеш", "може", "можемо", "можете", "мозес", "мозе", "моземо", "мозете"
))

_SERBIAN_TOKEN_PATTERN = re.compile(
    r"(?:_*(?:" + _NUM_RUN + r"|["
    + _L_EXT + _CYR + r"](?:(?:_*|[:.'\u2019])[" + _L_EXT + _CYR + r"])*))+_*"
)


def serbian_token(tok: str) -> str:
    from .serbian import serbian_normalize, serbian_stem

    t = tok.lower()
    if t in SERBIAN_STOP:
        return STOP_HOLE
    return serbian_normalize(serbian_stem(t))


CHAINS["serbian"] = ChainSpec(_SERBIAN_TOKEN_PATTERN, serbian_token)


# ---------------------------------------------------------------------------
# Thai (analysis/th/ThaiAnalyzer.java:95-100: ThaiTokenizer -> LowerCase ->
# DecimalDigit -> Stop). The tokenizer is the dictionary segmenter in
# thai.py (ThaiTokenizer.java:34-40 delegates to the JDK's Thai
# BreakIterator; see thai.py for the ported engine and its envelope).
# Run division: Thai letter/mark runs are dictionary-segmented; the
# repetition/elongation signs (ๆ U+0E46, ๅ U+0E45) stand alone, as the
# JDK's word rules break them out; Thai punctuation (ฯ ๏ ๚ ๛) starts no
# token (ThaiTokenizer.java:93-96 skips segments whose first char is not
# a letter or digit); Latin/digit runs follow the standard word pattern,
# with Thai digits joining digit runs and folding to ASCII.
# ---------------------------------------------------------------------------

from .langdata import THAI_STOP  # noqa: E402

_THAI_DICT_RUN = "[ก-ฮะ-ฺเ-ไ็-๎]+"
_THAI_D = "0-9๐-๙"
_THAI_NUM_RUN = "[" + _THAI_D + r"](?:(?:_*|[.,;'])[" + _THAI_D + "])*"
_THAI_OTHER_RUN = (
    r"(?:_*(?:" + _THAI_NUM_RUN
    + r"|[" + _L_EXT + r"](?:(?:_*|[:.'’])[" + _L_EXT + r"])*))+_*"
)
_THAI_SEG_PATTERN = re.compile(
    "(" + _THAI_DICT_RUN + ")|([ๅๆ])|(" + _THAI_OTHER_RUN + ")"
)


def thai_analyze(text: str) -> List[str]:
    from .thai import segment_thai_run

    out: List[str] = []
    for m in _THAI_SEG_PATTERN.finditer(text):
        run = m.group(1)
        if run is not None:
            toks = segment_thai_run(run)
        elif m.group(2) is not None:
            toks = [m.group(2)]
        else:
            toks = [m.group(3).lower()]
        for t in toks:
            t = fold_decimal_digits(t)
            out.append(STOP_HOLE if t in THAI_STOP else t)
    return out


def thai_token(tok: str) -> str:
    """Single-token path (MemoryIndex etc.): lowercase + digit fold +
    stop; dictionary segmentation happens in :func:`thai_analyze`."""
    t = fold_decimal_digits(tok.lower())
    return STOP_HOLE if t in THAI_STOP else t


CHAINS["thai"] = ChainSpec(_THAI_SEG_PATTERN, thai_token, raw_case=True,
                           analyze=thai_analyze)
