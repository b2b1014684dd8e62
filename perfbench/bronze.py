"""Seeded synthetic bronze reviews for the warehouse workload."""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BANKS = ["Attijariwafa Bank", "Banque Populaire", "BMCE Bank", "Crédit Agricole du Maroc",
         "BMCI", "Société Générale Maroc", "CIH Bank", "CDM", "Al Barid Bank"]
CITIES = ["Casablanca", "Rabat", "Marrakech", "Fes", "Tanger", "Agadir", "Oujda", "Kenitra"]
WORDS = ("bon bien excellent parfait rapide professionnel merci super agreable efficace "
         "mauvais lent attente probleme nul horrible decevant long jamais pire "
         "le la les de du des et est un une dans pour avec sur ce cette tres service "
         "agence guichet conseiller compte carte virement frais accueil crédit dossier "
         "the staff bank very good slow").split() + [
         "بنك", "خدمة", "جيد", "سيء", "ممتاز", "فرع", "موظف", "وقت", "رصيد", "حساب"]
SCHEMA = pa.schema([
    ("review_id", pa.string()), ("place_id", pa.string()), ("bank_name", pa.string()),
    ("branch_name", pa.string()), ("author_name", pa.string()), ("author_url", pa.string()),
    ("language", pa.string()), ("original_language", pa.string()),
    ("profile_photo_url", pa.string()), ("rating", pa.int32()),
    ("relative_time_description", pa.string()), ("text", pa.string()), ("time", pa.int64()),
    ("translated", pa.bool_()), ("collected_at", pa.timestamp("us", tz="UTC"))])


def write(path, seed, rows):
    """Writes `rows` bronze reviews to the parquet file `path` and returns
    the number of rows the gold fact table must hold: the unique reviews
    with usable text.

    `place_id` alone fixes bank and branch; 4% of rows re-deliver an
    earlier review with a later `collected_at`; 2% of ratings are null;
    5% of texts are null, blank or too short; review times span 2020-2025."""
    rng = np.random.default_rng(seed)
    unique = rows - rows // 25
    places = max(50, rows // 400)
    place_bank = rng.integers(0, len(BANKS), places)
    place_city = rng.integers(0, len(CITIES), places)
    u = np.concatenate([np.arange(unique), rng.integers(0, unique, rows - unique)])
    place = rng.integers(0, places, unique)[u]
    kind = rng.integers(0, 100, unique)[u]
    nwords = rng.integers(5, 31, unique)
    t = (1577836800 + rng.integers(0, 6 * 365 * 86400, unique))[u]
    stars = rng.integers(1, 6, unique)
    null_rating = rng.integers(0, 50, unique) == 0
    word_ix = rng.integers(0, len(WORDS), int(nwords.sum()))
    ends = np.cumsum(nwords)
    texts = [" ".join(WORDS[i] for i in word_ix[e - n:e]) for n, e in zip(nwords, ends)]
    text = [None if k < 2 else "   " if k < 3 else "bien  !" if k < 5 else texts[x]
            for x, k in zip(u, kind)]
    lang = rng.integers(0, 3, unique)[u]
    has_url = (rng.integers(0, 10, unique) < 7)[u]
    orig = (rng.integers(0, 10, unique) < 3)[u]
    translated = (rng.integers(0, 5, unique) == 0)[u]
    collected = 1735689600 + u + np.where(np.arange(rows) < unique, 0, 86400)
    bank = [BANKS[b] for b in place_bank[place]]
    cols = {
        "review_id": [f"place_{p}_{s}_author{x}" for p, s, x in zip(place, t, u)],
        "place_id": [f"place_{p}" for p in place],
        "bank_name": bank,
        "branch_name": [f"{b} Agence {CITIES[place_city[p]]} {p}" for b, p in zip(bank, place)],
        "author_name": [f"author{x}" for x in u],
        "author_url": [f"https://maps.example/u/{x}" if h else None for x, h in zip(u, has_url)],
        "language": [("fr", "ar", "en")[i] for i in lang],
        "original_language": ["fr" if o else None for o in orig],
        "profile_photo_url": [None] * rows,
        "rating": pa.array(np.where(null_rating[u], 0, stars[u]), pa.int32(),
                           mask=null_rating[u]),
        "relative_time_description": ["il y a un an"] * rows,
        "text": text,
        "time": t,
        "translated": translated,
        "collected_at": pa.array(collected * 1_000_000, pa.timestamp("us", tz="UTC")),
    }
    pq.write_table(pa.table(cols, schema=SCHEMA), path)
    return int((kind[:unique] >= 5).sum())
