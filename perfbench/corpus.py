"""Seeded, Oyez-shaped transcript corpus for the `pipeline` workload.

Each transcript is one oral argument: 3-5 sections of turns of text
blocks, written as `{term}_{case-name}.json` like the files the ingest
service lands. Every case is drawn from one of a few planted topics, so
the case embeddings form clusters, and a few junk documents are mixed in
with the shapes of src/test/resources/transcripts/198{2,3,4}_*.json.
`generate` returns the ground truth the pipeline's outputs are checked
against.
"""
import json
import os
import random

TOPICS = {
    "speech": "speech press publication censorship pamphlet broadcast newspaper "
              "expression leaflet editorial libel prior restraint viewpoint forum "
              "picketing petition assembly protest slogan obscenity".split(),
    "search": "warrant search seizure probable cause officer vehicle trunk "
              "suspicion exclusionary evidence suppression frisk dwelling curtilage "
              "consent checkpoint surveillance wiretap informant".split(),
    "commerce": "interstate commerce tariff railroad carrier shipment freight "
                "regulation pipeline wholesale manufacturer dormant clause trade "
                "license franchise utility rates merger antitrust".split(),
    "habeas": "habeas petitioner custody sentence conviction jury appeal prisoner "
              "trial counsel ineffective confession miranda parole death penalty "
              "retroactive procedural default".split(),
}
COMMON = ("the court question whether counsel argument record case issue statute "
          "decision below opinion view point answer position rule government "
          "state respondent justice time fact matter reason").split()
SHORT = ["Yes.", "Thank you.", "No, Your Honor.", "Correct.", "I see."]
JUSTICES = [("John G. Roberts, Jr.", "john_g_roberts_jr", "Roberts"),
            ("Clarence Thomas", "clarence_thomas", "Thomas"),
            ("Elena Kagan", "elena_kagan", "Kagan"),
            ("Samuel A. Alito, Jr.", "samuel_a_alito_jr", "Alito"),
            ("Sonia Sotomayor", "sonia_sotomayor", "Sotomayor")]
ADVOCATES = ["Alex Rivera", "Jordan Lee", "Morgan Chen", "Taylor Brooks",
             "Casey Patel", "Riley Novak", "Jamie Okafor", "Drew Lindqvist"]
TERMS = ["2019", "2020", "2021", "2022"]


def _speaker(name, ident, last, sid, justice):
    roles = None
    if justice:
        roles = [{"id": sid * 10, "type": "scotus_justice", "date_start": -16570800,
                  "date_end": 0, "appointing_president": "Someone",
                  "role_title": "Associate Justice", "institution_name": "SCOTUS",
                  "href": "r"}]
    return {"ID": sid, "name": name, "last_name": last, "href": "h",
            "identifier": ident, "view_count": 0, "length_of_service": 0,
            "roles": roles, "thumbnail": {"id": sid + 1, "mime": "image/png",
                                          "size": 1, "href": "t"}}


def _sentence(rng, vocab, n):
    # planted topic: two thirds of the words come from the case's topic
    words = [rng.choice(vocab) if rng.random() < 0.67 else rng.choice(COMMON)
             for _ in range(n)]
    return " ".join(words).capitalize() + "."


def _transcript(rng, oa_id, title, term, topic, shape):
    """One argument and its kept-utterance and chunk counts."""
    vocab = TOPICS[topic]
    adv = rng.sample(ADVOCATES, 2)
    speakers = [_speaker(n, i, l, 100 + k, True) for k, (n, i, l) in enumerate(JUSTICES)]
    speakers += [_speaker(a, a.lower().replace(" ", "_"), a.split()[-1], 200 + k, False)
                 for k, a in enumerate(adv)]
    sections, kept, t = [], 0, 0.0
    for _ in range(rng.randint(3, 5)):
        turns = []
        for _ in range(rng.randint(*shape["turns"])):
            blocks = []
            for b in range(rng.randint(1, 3)):
                # the first block of a turn is always long, so every
                # section keeps at least one utterance (one chunk)
                if b > 0 and rng.random() < 0.25:
                    text = rng.choice(SHORT)
                else:
                    text = _sentence(rng, vocab, rng.randint(*shape["words"]))
                    kept += 1
                dt = 2.0 + len(text) / 20.0
                blocks.append({"start": round(t, 2), "stop": round(t + dt, 2),
                               "byte_start": int(t * 10), "byte_stop": int((t + dt) * 10),
                               "text": text})
                t += dt
            turns.append({"start": blocks[0]["start"], "stop": blocks[-1]["stop"],
                          "byte_start": blocks[0]["byte_start"],
                          "byte_stop": blocks[-1]["byte_stop"],
                          "speaker": rng.choice(speakers), "text_blocks": blocks})
        sections.append({"start": turns[0]["start"], "stop": turns[-1]["stop"],
                         "byte_start": turns[0]["byte_start"],
                         "byte_stop": turns[-1]["byte_stop"], "turns": turns})
    doc = {"id": oa_id, "title": f"Oral Argument - {title}",
           "media_file": [{"id": 1, "mime": "audio/mpeg", "size": 100, "href": "x"}],
           "transcript": {"title": title, "duration": round(t, 2), "sections": sections},
           "public_note": None, "unavailable": False, "damaged": None,
           "display_title": title, "term": term, "case_id": str(oa_id),
           "docket_number": f"{term[2:]}-{oa_id % 10000:04d}",
           "session": f"{term}-{int(term[2:]) + 1}",
           "extracted_at": "2025-08-02T02:34:26",
           "extraction_id": f"{term}_{oa_id}"}
    return doc, kept, len(sections)


def _junk(kind, oa_id, term):
    """The three junk shapes of the test fixtures: empty sections, no
    transcript, and a file that is not JSON."""
    if kind == "malformed":
        return '{"id": %d, "title": "broken\nthis is not valid json at all {{{\n' % oa_id
    doc = {"id": oa_id, "title": "Oral Argument - Missing", "media_file": [],
           "public_note": None, "unavailable": kind == "no-transcript", "damaged": None,
           "display_title": "Missing", "term": term, "case_id": str(oa_id),
           "docket_number": f"{term[2:]}-{oa_id % 10000:04d}", "session": term,
           "extracted_at": "2025-08-02T02:40:00", "extraction_id": f"{term}_{oa_id}"}
    if kind == "empty-sections":
        doc["transcript"] = {"title": "Empty", "duration": 0.0, "sections": []}
    return json.dumps(doc, indent=1)


def generate(raw_dir, seed, cases, junk, shape, batch="base"):
    """Write one batch of transcripts into `raw_dir` and return its truth.

    `batch` names the batch, so a later batch (the re-ingest's new
    transcripts) never reuses a case name of an earlier one."""
    rng = random.Random(f"{seed}/{batch}")
    os.makedirs(raw_dir, exist_ok=True)
    topics = sorted(TOPICS)
    truth = {"cases": 0, "utterances": 0, "chunks": 0, "junk": 0, "bytes": 0}
    for i in range(cases):
        topic = topics[i % len(topics)]  # balanced topics: every cluster is populated
        term = rng.choice(TERMS)
        name = f"{batch}{i:03d}-{topic}-v-{rng.choice(ADVOCATES).split()[-1].lower()}"
        oa_id = 30000 + i + (50000 if batch != "base" else 0)
        doc, kept, chunks = _transcript(rng, oa_id, name.replace("-", " ").title(),
                                        term, topic, shape)
        body = json.dumps(doc, indent=1)
        with open(os.path.join(raw_dir, f"{term}_{name}.json"), "w") as f:
            f.write(body)
        truth["cases"] += 1
        truth["utterances"] += kept
        truth["chunks"] += chunks
        truth["bytes"] += len(body.encode())
    kinds = ["empty-sections", "no-transcript", "malformed"]
    for j in range(junk):
        term = rng.choice(TERMS)
        body = _junk(kinds[j % len(kinds)], 90000 + j + (5000 if batch != "base" else 0), term)
        with open(os.path.join(raw_dir, f"{term}_{batch}junk-{j}.json"), "w") as f:
            f.write(body)
        truth["junk"] += 1
        truth["bytes"] += len(body.encode())
    return truth
