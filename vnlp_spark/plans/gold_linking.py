"""Frozen entity-linking gold (VERDICT r03 #6) — blind protocol.

A knowledge base of Turkish entities plus a mention set that exercises
what `link_mentions` (operators/entity_resolution.py) must survive in
web text: apostrophe-clitic inflections, fused (apostrophe-less)
suffixed surfaces, typos, ASCII-folded spellings, abbreviations,
head-entity skew (many İstanbul/Türkiye variants), and out-of-KB
distractors that must stay UNLINKED.

Annotated before first scoring (same freeze-score-fix instrument as the
UD and sentiment golds): `gold` is the canon_key of the correct KB
entity, or None when the mention must not link to anything.

Round-5 mechanical key rename: canonical keys for multiword entities
with GENERIC organizational heads became the clitic-stripped full
surface (entity_resolution.GENERIC_ORG_HEADS — the round-5 232-entity
gold exposed that head-word keys conflate every "X Bankası"); the six
affected gold rows were renamed identity-preservingly (yolları ->
türk hava yolları, ...).  No judgment changed.
"""

# --- knowledge base: (canonical surface, type, seed mention count) -------
# Counts model head-entity skew: İstanbul/Türkiye dominate, tail is thin.
KB = [
    ("İstanbul", "LOC", 900),
    ("Ankara", "LOC", 400),
    ("İzmir", "LOC", 250),
    ("Antalya", "LOC", 120),
    ("Türkiye", "LOC", 1200),
    ("Almanya", "LOC", 90),
    ("Konya", "LOC", 60),
    ("Bursa", "LOC", 55),
    ("Diyarbakır", "LOC", 40),
    ("Eskişehir", "LOC", 35),
    ("Mersin", "LOC", 30),
    ("Galatasaray", "ORG", 300),
    ("Fenerbahçe", "ORG", 280),
    ("Beşiktaş", "ORG", 260),
    ("Trabzonspor", "ORG", 150),
    ("Türk Hava Yolları", "ORG", 80),
    ("Ziraat Bankası", "ORG", 70),
    ("Boğaziçi Üniversitesi", "ORG", 50),
    ("Anadolu Ajansı", "ORG", 45),
    ("Sağlık Bakanlığı", "ORG", 40),
    ("Merkez Bankası", "ORG", 60),
    ("Ahmet Yılmaz", "PER", 25),
    ("Mehmet Demir", "PER", 22),
    ("Ayşe Kaya", "PER", 20),
    ("Mustafa Şahin", "PER", 18),
    ("Elif Çelik", "PER", 15),
    ("Fatma Aydın", "PER", 12),
]

# --- gold mentions: (surface, label, gold canon_key or None) -------------
GOLD_LINKS = [
    # exact-path inflections: apostrophe clitics strip to the exact key
    ("İstanbul'da", "LOC", "istanbul"),
    ("İstanbul'un", "LOC", "istanbul"),
    ("Ankara'ya", "LOC", "ankara"),
    ("Ankara'dan", "LOC", "ankara"),
    ("İzmir'de", "LOC", "izmir"),
    ("Türkiye'nin", "LOC", "türkiye"),
    ("Türkiye'deki", "LOC", "türkiye"),
    ("Galatasaray'ın", "ORG", "galatasaray"),
    ("Fenerbahçe'ye", "ORG", "fenerbahçe"),
    ("Beşiktaş'ta", "ORG", "beşiktaş"),
    ("Trabzonspor'un", "ORG", "trabzonspor"),
    ("Ahmet Yılmaz'ın", "PER", "yılmaz"),
    ("Ayşe Kaya'nın", "PER", "kaya"),
    # fused (apostrophe-less) suffixed surfaces -> similarity path
    ("İstanbuldaki", "LOC", "istanbul"),
    ("İstanbullular", "LOC", "istanbul"),
    ("Ankaradan", "LOC", "ankara"),
    ("Ankaralı", "LOC", "ankara"),
    ("İzmirliler", "LOC", "izmir"),
    ("Türkiyede", "LOC", "türkiye"),
    ("Antalyaya", "LOC", "antalya"),
    ("Konyada", "LOC", "konya"),
    ("Bursalı", "LOC", "bursa"),
    ("Galatasaraylılar", "ORG", "galatasaray"),
    ("Fenerbahçeli", "ORG", "fenerbahçe"),
    ("Beşiktaşlı", "ORG", "beşiktaş"),
    ("Trabzonsporlu", "ORG", "trabzonspor"),
    # typos (single edit) -> similarity path
    ("İstanbull", "LOC", "istanbul"),
    ("İstnbul", "LOC", "istanbul"),
    ("Ankra", "LOC", "ankara"),
    ("Anakra", "LOC", "ankara"),
    ("Türkye", "LOC", "türkiye"),
    ("Galatasary", "ORG", "galatasaray"),
    ("Galatasaraay", "ORG", "galatasaray"),
    ("Fenerbahce", "ORG", "fenerbahçe"),
    ("Besiktas", "ORG", "beşiktaş"),
    ("Trabzonspr", "ORG", "trabzonspor"),
    ("Eskişehr", "LOC", "eskişehir"),
    ("Diyarbakr", "LOC", "diyarbakır"),
    # ASCII-folded spellings (dotted/dotless-i and diacritics dropped)
    ("Istanbul", "LOC", "istanbul"),
    ("Istanbul'da", "LOC", "istanbul"),
    ("Izmir", "LOC", "izmir"),
    ("Turkiye", "LOC", "türkiye"),
    ("Turkiye'nin", "LOC", "türkiye"),
    # multi-word heads: the HEAD (last) token keys the entity
    ("Türk Hava Yolları'nın", "ORG", "türk hava yolları"),
    ("Ziraat Bankası'nda", "ORG", "ziraat bankası"),
    ("Boğaziçi Üniversitesi'nde", "ORG", "boğaziçi üniversitesi"),
    ("Sağlık Bakanlığı'ndan", "ORG", "sağlık bakanlığı"),
    ("Mehmet Demir'in", "PER", "demir"),
    ("Mustafa Şahin'e", "PER", "şahin"),
    ("Elif Çelik'ten", "PER", "çelik"),
    # abbreviations (hard class: 3-gram similarity cannot reach these)
    ("THY", "ORG", "türk hava yolları"),
    ("GS", "ORG", "galatasaray"),
    ("FB", "ORG", "fenerbahçe"),
    # head-entity skew: the hot keys appear many times more (AQE's skew
    # join may split them; correctness unchanged)
    ("İstanbul'a", "LOC", "istanbul"),
    ("İstanbul'dan", "LOC", "istanbul"),
    ("İstanbuldan", "LOC", "istanbul"),
    ("Türkiye'ye", "LOC", "türkiye"),
    ("Türkiye'den", "LOC", "türkiye"),
    ("Türkiyenin", "LOC", "türkiye"),
    # out-of-KB distractors: MUST remain unlinked (linking = FP)
    ("Samsun", "LOC", None),
    ("Samsun'da", "LOC", None),
    ("Adana", "LOC", None),
    ("Gaziantep", "LOC", None),
    ("Çaykur Rizespor", "ORG", None),
    ("Sivasspor", "ORG", None),
    ("Vakıfbank", "ORG", None),
    ("Hasan Öztürk", "PER", None),
    ("Zeynep Arslan", "PER", None),
    ("Kenan Koç", "PER", None),
    # near-miss distractors: similar to KB keys but different entities
    ("İstinye", "LOC", None),          # shares prefix with İstanbul
    ("Ankaragücü", "ORG", None),       # the club, not the city (ORG type)
    ("Bursaspor", "ORG", None),        # the club, not the city
    ("Demirbank", "ORG", None),        # not Mehmet Demir (type differs too)
    # cross-type guards: same surface family, wrong label must not link
    ("Galatasaray Mahallesi", "LOC", None),  # LOC mention, ORG entity
]

# --- tuning pins (added AFTER first scoring, fresh surfaces) -------------
# Each fixed category gets a pin the gold never contained: the ASCII-fold
# block rule, the containment rule for fused suffixes, the DL-verify rule
# for typos, auto-initials and club short-form aliases, plus a distractor
# that the looser thresholds must still leave unlinked.
TUNING_LINKS = [
    ("Izmirde", "LOC", "izmir"),            # fold + containment
    ("Bursada", "LOC", "bursa"),            # containment
    ("Eskisehir", "LOC", "eskişehir"),      # fold exact
    ("Mersn", "LOC", "mersin"),             # DL=1 typo
    ("Antalyya", "LOC", "antalya"),         # DL=1 typo
    ("BJK", "ORG", "beşiktaş"),             # curated club short form
    ("AA", "ORG", "anadolu ajansı"),                # auto-initials
    ("Fenerbahceli", "ORG", "fenerbahçe"),  # fold + containment
    ("Kayseri", "LOC", None),               # distractor stays unlinked
    ("Denizlispor", "ORG", None),           # distractor stays unlinked
]
