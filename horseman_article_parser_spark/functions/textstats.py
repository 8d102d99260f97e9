"""Text analysis: tokens, readability, quality, language ID, sentiment,
keywords, fingerprints — Column expressions (JVM-side, whole-stage
codegen) where one projection can carry the work, Arrow batch kernels
where it cannot. Each op renders as ANSI SQL for the DuckDB oracle.

Reference parity (behavior, not code):
- readability counts + readingTime = round(words/200*60)
    /root/reference/controllers/readability.js:13-57 (formula :55)
- sentiment = AFINN token-sum; label thresholds preserve the quirk that
  Neutral is reachable only at comparative == 0.05 exactly
    /root/reference/index.js:1443-1451 (SURVEY §2.4 A10, §7.3)
- excerpt = first ~200 chars extended to a word boundary, capitalized
    /root/reference/index.js:1399 (X8)
- normalizeEntity = strip quotes, non-alnum→space, collapse, lower
    /root/reference/controllers/entityParser.js:83-90 (X1)
- language detect = n-gram profile scoring with 'en' default
    /root/reference/controllers/language.js:26-46 (N1) — here a
    franc-style ranked-trigram model (LANG_TRIGRAMS), argmax with
    deterministic alphabetical tie-break and 'eng'/'en' fallback when
    no trigram hits.

Scale notes: everything is per-document and narrow — no shuffle, fully
pipelined into the scan — except keywords_cleaned_topk, which shuffles
once on (doc_id, token).
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

TOKEN_SPLIT_RE = r"\s+"

LANG_DEFAULT = "en"

# ---------------------------------------------------------------------
# Trigram-profile language ID (N1) — the franc model
# (/root/reference/controllers/language.js:26-46): per-language ranked
# trigram profiles scored against the text, iso6393 winner mapped to
# iso6391 (language.js ISO3_TO_1 table :6-13), 'eng'/'en' default.
# Profiles are hand-ranked top trigrams of each language's function
# words (rank 0 = most characteristic); trigrams are counted over
# ' ' + lowercase letters-only text + ' ' so word-boundary trigrams
# (" th", "he ") score, franc-style. Score = Σ count(tg)·(K − rank);
# winner = max score, alphabetical iso6393 tie-break, all-zero → eng.
#
# Scale shape: normalization is Column algebra (lang_normtext_col), the
# scoring is one Arrow-batched kernel (langid_batch_col) — no explode,
# no shuffle. The DuckDB oracle renders the same arithmetic as
# non-overlapping occurrence counts (length difference under replace).

LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "amh": ("ነው ", " እና", "እና ", "ውስጥ", "ላይ ", "የሚ", "ናቸው", "አለ", "ነበር",
            "ከተማ", "ውሻ", "ላይ", "በጣም", "ሰዎች", "ው "),
    "arb": (" ال", "الم", "في ", " في", "من ", " من", "على", " عل", "ية ",
            "ات ", "ون ", " وا", "ها ", "ين ", "ب ا"),
    "ben": ("ের ", "েয়", " কর", "রে ", "কে ", "য় ", " এব", "এবং", "বং ",
            "ায় ", " দে", "দেখ", "াল ", " মা", "ষ "),
    "bul": ("ата ", "ът ", "ите ", " на", "на ", "да ", " да", "ва ", "ето",
            " се", "се ", "ият", "джо", " къ", "ще "),
    "cat": ("eu ", "ós ", "ïns", "tat", "ràp", " el", "el ", " i ", "els",
            "que", "és ", " és", "aça", "sse", "ciu"),
    "ces": (" př", "pře", "ení", " ne", "ně ", "ost", " po", "ho ", " na",
            "ou ", " je", "je ", "ých", "ční", "ře "),
    "cmn": ("的", "是", "了", "在", "们", "这", "有", "大", "国", "中", "上", "个", "不",
            "我", "市"),
    "deu": (" de", "der", "ein", "sch", "ich", "nde", "die", "und", "cht",
            "ung", "gen", " ge", "ver", "eit", " zu"),
    "ell": ("και", " κα", "αι ", "την", "τον", "της", " τη", "ος ", "το ",
            " το", "ου ", "ματ", "ικό", "ετα", "να "),
    "eng": (" th", "the", "he ", "ing", "ng ", "and", " an", " of", "of ",
            "ion", " to", "ed ", " in", "tha", "ent"),
    "est": ("on ", " on", "ja ", " ja", "ga ", "le ", "sti ", "nud", "inna",
            "üle", " ül", "se ", "ud ", "ast", "kii"),
    "eus": ("tza", "ak ", "en ", "ko ", "eta", " et", "ean", "zen", "du ",
            " du", "ren", "tik", "era", "ria", "txa"),
    "fas": (" می", "می ", "ای ", " از", "از ", "ده ", " که", "که ", "ند ",
            " را", "را ", "ود ", "هی ", " سگ", "رد "),
    "fin": ("ssa", "ssä", "en ", "in ", "lla", "sta", "aan", "een", "ksi",
            " ja", "ja ", "ttä", "nen", "ist", "kki"),
    "fra": (" de", "de ", " le", "le ", "ent", "que", " qu", "les", "la ",
            " la", "ion", "eur", "ait", " et", "ous"),
    "guj": ("માં", "્યા", "ાય ", "છે ", " છે", "નો ", "ના ", "ની ", "ું ",
            " અન", "અને", "થી ", "વા ", " ગુ", "રો "),
    "heb": (" ה", "ים ", "את ", " את", "של ", " של", "ות ", "ול ", " ב",
            "ל ה", "ר ה", "ה ה", "ם ר", "עיר", " וא"),
    "hin": ("के ", " के", "है ", " है", "की ", " की", "में", " मे", "ने ",
            "ों ", "ता ", " और", "और ", "ार ", "से "),
    "hun": ("gy ", "egy", " eg", "ek ", "tt ", " az", "az ", "nek", "ság",
            "ett", "sze", " sz", "nak", "ban", " a "),
    "hye": ("ում ", "ում", "ան ", "ակա", "կան", " մե", "եր ", "ող ", " որ",
            "որտ", "ույ", "յուն", " շա", "ագու", "վրա"),
    "ind": ("ang", "ng ", "yang", " ya", "kan", "di ", " di", "ber", "ata",
            "ah ", "nya", " ke", " me", "lom", "ola"),
    "isl": ("ður", "inn", " yf", "yfir", "ið ", "ur ", "nn ", " í ", "og ",
            " og", "refur", "inum", "þæg", "æði", "ði "),
    "ita": (" di", "di ", "che", " ch", "la ", " la", "zio", "one", "lla",
            "del", " de", "ato", "re ", "gli", " co"),
    "jpn": ("した", "ます", "です", "ている", "である", "として", "こと", "それ", "ました", "ない",
            "れた", "など", "について", "という", "には"),
    "kan": ("ಿದೆ", "ಲ್ಲಿ", "ಗಳು", "ನ್ನು", " ಕ", "ದ ", "ರು ", "ಿದ", "ಗೆ ",
            "ವು ", "ಂದ", "ು ", " ಮ", "ತ್ತ", "ಾಗ"),
    "kat": ("ის ", "ში ", "ება", " და", "და ", "ელი", "იან", "ზე ", "ქალ",
            "ალა", "აქი", "ხალ", "ლი ", "რი ", " სა"),
    "khm": ("ការ", "នេះ", "របស់", "ដែល", "និង", "បាន", "នៅ", "ពី", "ជា",
            "ទៅ", "គេ", "ក្នុង", "មាន", "ថា", "ឆ្កែ"),
    "kor": ("는 ", "를 ", "이 ", "가 ", "에 ", "다 ", "니다", "고 ", "의 ", "을 ", "에서",
            "있는", "람들", "사람", "그리"),
    "lao": ("ການ", "ແລະ", "ຂອງ", "ໃນ", "ໄດ້", "ມີ", "ທີ່", "ເປັນ", "ຢູ່",
            "ໄປ", "ຫມາ", "ໃຫຍ່", "ຄົນ", "ເມືອງ", "ຫຼາຍ"),
    "lav": ("ais", " pā", "pār", "ar ", " ar", "tā ", "ās ", "iem", " un",
            "un ", "ā ", "ši ", "āk ", "slin", "kais"),
    "lit": ("ėja", "oki", " šu", "šun", "ių ", "iame", "ies", "uda", "eit",
            "aug", " da", "ai ", "ing", "mat", "žmo"),
    "mal": ("ിൽ ", "ന്ന", "ുന്ന", "ത്ത", "കൾ", "ും ", "ന്റെ", "യും", " പ",
            "ല്ല", "ിക്ക", "ടെ ", "ആണ", "ണ് ", " മ"),
    "mya": ("သည်", "များ", "ကို", "တွင်", "နှင့်", "သော", "ရေး", "ပြီး",
            "ခြင်း", "က ", "မှာ", "တယ်", "တို့", "ဖြစ်", "နေ"),
    "nld": (" de", "de ", "en ", "van", " va", "het", " he", "een", " ee",
            "ijk", "aar", "oor", "ver", "ing", " en"),
    "nob": ("er ", "en ", " og", "og ", "det", "et ", " fo", "for", "til",
            " ti", "ene", " på", "på ", "den", " den"),
    "pan": ("ਾਂ ", "ਦੇ ", " ਦੇ", "ਹੈ ", " ਹੈ", "ਦੀ ", " ਦੀ", "ਨੂੰ", "ਿਆ ",
            " ਵਿ", "ਵਿੱਚ", "ਅਤੇ", " ਅਤ", "ੀਆਂ", " ਨ"),
    "pol": ("prz", "rze", "nie", " ni", "ego", " po", "ość", "ych", "owa",
            " pr", "ać ", "ie ", "cze", "ski", " w "),
    "por": (" de", "de ", "ção", "açã", " do", "do ", "da ", " da", "que",
            "ent", " co", "os ", "ara", " pa", "nto"),
    "ron": ("ul ", "ui ", " în", "în ", "are", "ate", "ea ", "lor", " cu",
            "ără", "și ", " și", "ește", "ulu", "mul"),
    "rus": (" пр", "про", "ого", "го ", " на", "на ", "ени", "ние", " по",
            "ост", "ств", "ать", "ть ", "ово", " не"),
    "sin": ("යි ", "ෙන්", "ත් ", "ය ", " කර", "ලා ", "නවා", "ේ ", "ක් ",
            " සහ", "සහ ", "වල ", "ගේ ", " ම", "ටත"),
    "spa": (" de", "de ", " la", "la ", "que", " qu", "el ", " el", "ión",
            "ció", "ado", "los", " lo", "ent", " en"),
    "swe": ("och", " oc", "ch ", "att", " at", "för", " fö", "det", " de",
            "som", " so", "ing", "en ", "and", "ät "),
    "swh": ("wa ", " wa", "ana", "na ", " na", "ni ", "ili", "kub", "mbwa",
            "kat", "ika", "uka", " ku", "chi", "ji "),
    "tam": ("ும் ", "கிற", "த்த", "ில் ", "ின் ", "மான", "ான ", " நா", "மேல",
            "ட்ட", "று ", "கள்", "ல் ", "ரி ", "து "),
    "tel": ("లో ", "ంది", "ారు", " తె", "ను ", "కు ", "ది ", "గా ", " ఉం",
            "న్న", "ాల", "రు ", "ందు", " ప", "ంట"),
    "tgl": ("ang", " an", "ng ", " ng", "mga", " mg", "ay ", " ay", "ong",
            "ala", "aso", " sa", "sa ", "ing", "han"),
    "tha": ("สุนัข", "และ", "ใน", "ี่", "ขี้", "ือ", "ของ", "ไม่", "ที่",
            "การ", "เมือง", "ผู้", "คน", "ใหญ่", "มาก"),
    "tur": ("lar", "ler", "ın ", "ve ", " ve", "bir", " bi", "den", "nda",
            "ği ", "ır ", "üyü", "şeh", "ız ", "gör"),
    "ukr": ("ає ", "ння", " що", "що ", "ть ", "ці ", "іст", " мі", "ськ",
            "ому", "их ", "ів ", "при", " ве", "ько"),
    "urd": (" ہے", "ہے ", "یں ", "تے ", "تی ", " کے", "کے ", "کی ", " کی",
            "اور", " او", "ر ش", "وپر", " لو", "گ ا"),
    "vie": ("ng ", " ng", "nh ", " nh", "on ", " co", "con", " và", "và ",
            "ười", " qu", "ành", "phố", " ph", "rong"),
    # ---- round-4 breadth additions (18 languages; profiles are the
    # top-15 non-overlapping-count trigrams of the engine's own sample
    # corpus, same construction as the original 52) ----
    "afr": (" di", "ie ", "die", "e d", "in ", " ba", " br", " da", " el", " ge", " gr", " he", " ho", " in", " ja"),
    "azj": ("hər", "ər ", " bu", " bö", " gö", " gü", " hə", " in", " it", " qə", " sü", " tu", " tü", " tə", " və"),
    "bel": ("а с", "ача", "ая ", "дзе", "зе ", " ба", " вя", " го", " гэ", " дз", " лю", " ля", " лі", " пр", " ру"),
    "cym": ("yn ", " yn", " ma", " y ", "ae ", "dio", "mae", "og ", " ac", " bo", " br", " ci", " cy", " dd", " di"),
    "gle": ("nn ", " an", " ga", "ach", "an ", "ann", "ch ", "ean", "onn", "r a", "tha", " ag", " ch", " da", " do"),
    "glg": ("o c", " ca", "a m", "de ", "eir", "iro", "nde", "ro ", "so ", " a ", " ch", " do", " ga", " gr", " is"),
    "hrv": (" li", "a s", "je ", "nog", "o l", " br", " da", " gd", " gr", " je", " lj", " mn", " pr", " ps", " sk"),
    "kaz": ("ада", "дам", "ді ", "еді", "ен ", "н с", "ред", "і ж", "үлк", " ад", " жа", " жы", " жә", " ит", " кү"),
    "mkd": ("то ", " ка", " бр", " во", " гл", " го", " гр", " де", " ку", " ли", " лу", " мр", " пр", " се", " ск"),
    "mlt": ("il ", " il", "għa", "l k", "la ", " be", " fe", " fi", " fu", " għ", " in", " ja", " ka", " kb", " ke"),
    "slk": ("dia", "ia ", " ce", " de", " hn", " ju", " ka", " kd", " le", " lí", " me", " mn", " ps", " rý", " sk"),
    "slv": ("jo ", "va ", " da", " hi", " jo", " kj", " le", " li", " lj", " me", " ps", " rj", " sk", " v ", " ve"),
    "som": ("a b", "ada", " ah", " da", " ka", " ma", "aa ", "aal", "ah ", "an ", "da ", "ka ", "kaa", " ar", " ay"),
    "sqi": (" e ", "in ", "të ", " sh", "e s", " at", " de", " dh", " di", " ka", " ku", " kë", " ma", " mb", " nj"),
    "srp": ("а с", "де ", "ог ", " бр", " ве", " ви", " гд", " гр", " да", " ле", " ли", " пр", " пс", " св", " ск"),
    "uzn": ("ang", "ar ", "dan", "di ", "har", "ng ", "ni ", "sha", "uni", " bu", " da", " ha", " it", " ji", " ka"),
    "yor": (" lo", " ni", " ti", "a n", "awọ", "i a", "i i", "kọl", "ri ", "ti ", "ọlọ", " aj", " al", " aw", " bu"),
    "zul": ("aph", "ayo", "esh", "hay", "lap", "nsu", "she", "yo ", " ab", " be", " ed", " el", " en", " es", " ev"),
    # 35 more languages, same 15-trigram franc-style profiles; gates
    # below
    "dan": ("ikk", "kke", "hva", "vad", "køb", "avn", "ejr", "kold", "ald",
            "noge", "aft", "ften", " af", "af ", "ede"),
    "hat": ("nou", "pra", "nan", "dlo", "mou", "anp", " ap", "ap ", "jod",
            "ak ", "pou", "yo ", "fè ", "kap", "moun"),
    "jav": ("iki", "iku", "ngg", "ggo", "won", "din", "pik", "beh", "kut",
            "kab", "ngk", "sing", "karo", "sabe", "tumr"),
    "nya": ("nth", "chit", "ndip", "amag", "mbi", "kum", "ntc", "gwir",
            "mund", "sika", "zik", "onse", "kwa ", "chig", "anth"),
    "sna": ("vano", "zhi", "shan", "umu", "uye", "vanh", "enda", "musi",
            "noe", "kwaz", "zvi", "dza", "nhu", "sika", "vari"),
    "ibo": ("ndi", "mma", " na", "aru", "oru", "ahi", "ubi", "taa",
            "nke", "ugbo", "maka", "onye", "ihe", "gba", "anyi"),
    "hau": ("yaw", "kas", "aik", "gon", "mut", "suka", "yana", "zuwa",
            "kuma", "tafi", "suna", "wani", "daga", "hak", "sun "),
    "mlg": ("ny ", "olo", "mia", "tsa", "ary", "dia", "eha", "aha",
            "ndeh", "sena", "maro", "izay", "amin", "ona ", "ireo"),
    "kin": ("ntu", "bak", "mur", "ajy", "oko", "uns", "nsh", "kand",
            "aban", "rima", "isok", "uyu", "bens", "gura", "ejo"),
    "lin": ("mpe", "zan", "lel", "kend", "bato", "ming", "bila", "ndak",
            "moto", "epai", "oyo", "bis", "kozal", "awa", "boye"),
    "wol": ("ñu ", "dañ", "lig", "gée", "too", "tey", "dem", "bare",
            "nit ", "am ", "bi ", "gi ", "lool", "ñun", "naa"),
    "aka": ("nni", "pii", "adw", "afu", "dwa", "wɔ ", "ɔkɔ", "nnɛ",
            "yɛ ", "nso", "sɛ ", "bɛ ", "wɔn", "ɛne", "mmr"),
    "epo": ("kaj", "aj ", "oj ", "iĝa", "ĉiu", "esta", "anto", "ulo",
            "eco", "ajn", "ojn", "iĝo", "aŭ ", "plej", "tre "),
    "ltz": ("ëtz", "wätz", "uerg", "uerf", "uern", "éin", "rëm", "haut",
            "gutt", "sproo", "awer", "ginn", "iess", "well", "och "),
    "fry": ("wur", "tsj", "sje", "eane", "minsk", "dage", "merk", "wurk",
            "geane", "nei ", "fan ", "dat ", "wol ", "hja", "har "),
    "gla": ("bhei", "achd", "gaid", "sgoi", "ionn", "eachd", "bruid",
            "tric", "sibh", "bidh", "hinn", "uile", "aig ", "mhat", "adh "),
    "bre": ("où ", "hag", "dud", "ziv", "marc", "labo", "park", "hizi",
            "keme", "eus ", "gant", "evit", "war ", "zo ", "deus"),
    "oci": ("lha", "èi ", "dins", "merca", "trabal", "uèi", "amb ",
            "dels", "aqu", "òc ", "òt ", "ent ", "perq", "aul", "ort "),
    "grn": ("ñe", "mba", "apo", "gué", "ára", "umi", "oho", "kok",
            "tapi", "muh", "ãme", "ape", "guar", "avei", "hik"),
    "sun": ("jeu", "eun", "awe", "keb", "aye", "dig", "jalm", "loba",
            "indit", "teu ", "anu ", "keur", "henteu", "saur", "nya "),
    "tuk": ("ýär", "leý", "meý", "işl", "gid", "adaml", "bazar", "ekin",
            "gün", "ýok", "bol", "lery", "myz", "dyr", "ňiz"),
    "kir": ("жан", "ыша", "үгү", "лаа", "ишт", "адамд", "базарг", "бары",
            "менен", "болу", "кыр", "үн ", "ууда", "шат ", "тал"),
    "tgk": ("меку", "саҳр", "ӯз ", "одамо", "бозор", "имр", "унанд",
            "ҳо ", "аст ", "мера", "корҳ", "ванд", "рӯз", "ҳои", "дӯ"),
    "mon": ("хүм", "үүс", "өнө", "байн", "аж ", "илла", "зах", "явн",
            "өдөр", "талба", "дараа", "руу ", "нь ", "ын ", "ийн "),
    "mar": ("आणि", "करत", "शेता", "लोक", "ंतर", "ाजार", "तात", "काम",
            "नंतर", "आज ", "ील ", "ांच", "ात ", "हेत", "णे "),
    "nep": ("हरू", "र्छ", "न् ", "छन्", "गर्", "बजार", "ान्", "मानि",
            "खेतम", "पछि", "जान्", "ेको", "ले ", "हुन्", "्दै"),
    "pus": ("په ", "کې ", "کوي", "ځي", "خلک", "پټي", "نن ", "بيا",
            "ته ", "کار ", "يو ", "دی ", "ښه ", "شوي", "ونه"),
    "uig": ("لەر", "دۇ ", "ىش", "بۈگ", "غا ", "ەيد", "كىشى", "بازارغ",
            "ئاند", "گۈن", "دىن ", "نى ", "دا ", "ىدۇ", "ئېت"),
    "snd": ("ڪن ", "ٿا ", "ماڻ", "اڄ ", "وڃ", "ءِ ", "هو ", "جي ",
            "کي ", "سند", "آهي", "ٻني", "ڪم ", "ندا", "يون"),
    "ori": ("ରେ ", "ମାନ", "ନ୍ତ", "ବଂ ", "କାମ", "ଛନ୍", "କୁ ", "ଆଜି",
            "ଲୋକ", "କ୍ଷେ", "ପରେ", "ଯିବ", "କର", "ତି ", "େବେ"),
    "asm": ("ৰত ", "ৰে ", "ৰু ", "লৈ ", "নুহ", "পিছ", "আজি", "মানুহ",
            "কৰে", "বজাৰ", "যায়", "আৰু", "থাৰ", "হে ", "ছত "),
    "div": ("ން ", "އަ", "ގައ", "ކުރ", "މަސ", "ދު ", "ށް ", "ފަހ",
            "މީހ", "ބާޒ", "އަދ", "ދަނ", "ހުން", "ރޭ ", "ދޭ "),
    "bod": ("རྣམ", "ཞིང", "ལས ", "བྱེ", "ཀྱི", "ཡོད", "དེ ", "རིང",
            "མི ", "ཁར ", "ནས ", "དང ", "གི ", "པོ ", "ཚོ"),
    "tir": ("ኣብ ", "ይሰር", "ናብ ", "ዕዳጋ", "ሑ ", "ድሕሪ", "እሞ ", "ኸዱ",
            "ሎሚ ", "ግራት", "ሰባት", "ጋ ይ", "ኩሎም", "እቲ ", "ርሑ"),
    "yid": ("ען ", "טשן", "יינט", "דערנ", "צום ", "זיי ", "מענט", "ארבע",
            "נאך ", "גייע", "עלד ", "דאס ", "וואס", "איז ", "פון "),
    # ---- round-5 breadth tranche A: non-Latin scripts -------------
    # Devanagari cluster — Bihari/Konkani/Sanskrit distinguish by
    # copula/case endings ("बा" bho, "अछि" mai, "हवै" awa, "हई" mag,
    # "हवय" hne, "अस्ति" san, "आसा" gom) vs hin "है" / mar "आहे" /
    # nep "छन्".
    "bho": ("रहल", "हल ", " बा ", "बा ", "बाटे", "ाटे", "होखे", "ोखे",
            "भइल", "इल ", " आ ", "लोग", "खे ", "जात", "करत"),
    "mai": ("अछि", "छि ", "छथि", "सँ ", "केँ ", "एहि", "ओहि", "हुनक",
            "मे ", "नहि", "जाइ", "छल ", "थिक", "िनक", "कए "),
    "awa": ("अउर", "उर ", "हवै", "वै ", "अहै", "हइ ", "मा ", "कै ",
            "लोगन", "गन ", "होय", "रहा", "जात", "करत", "का "),
    "mag": ("हई ", " हई", "हथि", "थिन", "ओकर", "तोहर", "हमर", "करऽ",
            "ऽ ", "आउ ", "कर ", "गे ", "लोग", "खेत", "बजार"),
    "hne": ("हवय", "वय ", " अउ ", "अउ ", "होथे", "ोथे", "मन ", "बर ",
            "संग", "ला ", "लोगन", "करथ", "रथे", "मा ", "खे "),
    "san": ("न्ति", "स्य", "ेषु", "ानि", "म् ", "ः ", "ेन ", "त्वा",
            "अस्ति", "भवति", "एव ", "अपि", " च ", "न्ते", "ाणाम"),
    "gom": ("आनी", "नी ", "आसा", "सा ", "म्हण", "्हण", "हें ", "तें ",
            "ांत ", "ाचो", "चो ", "ांक", "करप", "ेल्या", "गेल"),
    # Perso-Arabic cluster — Sorani ە/ێ + ەکان plural, Saraiki کوں
    # dative + ݙ/ڳ implosives, Kashmiri ٕ/ٛ vowel signs, Western
    # Punjabi نوں dative + اتے, Egyptian Arabic اللي/ده/مش.
    "ckb": ("ەکان", "کان ", "لە ", " لە", "بە ", "کە ", "دا ", "ەوە",
            "ێک ", "ئەو", "دەک", "ەکە", "وان", "ناو", "کرد"),
    "skr": ("کوں ", "وں ", "ݙے", "ڄد", "ڳال", "ٻئ", "وچ ", "تے ",
            "دے ", "ہک ", "ہن ", "نال", "یندے", "لوک", "اں "),
    "kas": ("چھُ", "ھُ ", "تہٕ", "ہٕ ", "منٛز", "نٛز", "اکھ", "ہٕند",
            "ۄ", "ٲ", "کران", "گژھ", "اسان", "تِم", "ِ "),
    "pnb": ("اتے ", "نوں ", "ایہ ", "اوہ ", "وچ ", "دے ", "دا ",
            "ہن ", "توں ", "کیتا", "جاند", "وی ", "لئی", "فیر", "کم "),
    "arz": ("اللي", "للي ", " ده ", "ده ", "مش ", " مش", "علشان",
            "شان ", "كده ", "بتاع", "عايز", "فيه ", "دي ", "بس ", "حاج"),
    # Cyrillic cluster — Tatar һәм/өчен vs Bashkir менән/өсөн/ҡ-ҙ,
    # Chuvash ӑ/ӗ/ҫ, Yakut уонна/дьон/һ, Chechen цхьа/ӏ, Ossetic ӕ.
    "tat": ("һәм ", "әм ", "белән", "лән ", "өчен", "чен ", "кеше",
            "шәһәр", "лар ", "ләр ", "бер ", "бүген", "яхшы", "була", "да "),
    "bak": ("менән", "нән ", "өсөн", "сөн ", "беҙ ", "ҡала", "баҙар",
            "ҙа ", "ыҙ ", "һәм ", "һеҙ", "бөгөн", "эш ", "ине", "ҡай"),
    "chv": ("тата ", "ата ", "пӗр", "ӗр ", "вӑл ", "ӑл ", "ҫын",
            "сем ", "пул", "нӑ ", "ҫӗ ", "чӑв", "аш ", "ӗҫ ", "та "),
    "sah": ("уонна", "онна", "буол", "дьон", "ьон ", "биир", "кини",
            "саха", "ҕа ", "ҥ ", "лар ", "ыыр", "үчүгэй", "эрэ", "баар"),
    "che": ("цхьа", "хьа ", " ду ", "ду ", "дӏа", "ӏад", "наха", "къа",
            "болх", "хил", "шен", "ца ", "бен ", "дукха", "хӏум"),
    "oss": ("ӕмӕ ", "мӕ ", "ӕр ", "уый", "ый ", "цы ", "дӕр", "иу ",
            "кӕн", "ӕй ", "дзы", "хъӕ", "уыд", "сты ", "адӕм"),
    # Dzongkha (Tibetan script, ཨིན/ལུ/ཚུ vs bod ཡིན/ལ/ཚོ), Inuktitut
    # (Canadian syllabics), Cantonese (嘅/係/唔 vs cmn 的/是/不).
    "dzo": ("ཨིན", "ིན ", "ལུ ", " ལུ", "འབད", "བད ", "ཚུ ", "ནང ",
            "མི ", "དང ", "གི ", "འགྱོ", "ཉོ ", "ལཱ ", "ཅ ལ"),
    "iku": ("ᐊᒻᒪ", "ᒻᒪ ", "ᓪᓗ", "ᒥᒃ ", "ᒧᑦ ", "ᐃᓄ", "ᓄᐃ", "ᐅᑦ ",
            "ᑦ ", "ᓂᒃ ", "ᖅ ", "ᓯᒪ", "ᔪᖅ", "ᑐᖅ", "ᖓ"),
    "yue": ("嘅", "係", "唔", "咗", "喺", "啲", "佢", "乜", "冇", "睇",
            "嚟", "咁", "哋", "嘢", "鍾意"),
    # ---- round-5 breadth tranche B1: single-language scripts -------
    # Each gets its own script gate, so every profile below is skipped
    # entirely on text in any other script (near-zero marginal cost).
    "sat": ("ᱦᱚᱲ", "ᱚᱲ ", "ᱟᱨ ", "ᱠᱚ ", "ᱨᱮ ", "ᱫᱚ ", "ᱞᱮᱠ", "ᱟᱹ",
            "ᱤᱧ", "ᱥᱮᱫ", "ᱛᱮ ", "ᱜᱮ ", "ᱢᱮᱱ", "ᱱᱟᱹ", "ᱡᱤᱱ"),
    "iii": ("ꆈꌠ", "ꌠ ", "ꉬ ", "ꊿ ", "ꇬ ", "ꑌ ", "ꄷ", "ꀋ",
            "ꁧ", "ꋍ", "ꂷ", "ꈀ", "ꃅ", "ꉆ", "ꈨ"),
    # Cherokee trigrams are stored pre-LOWERCASED: Unicode case-maps
    # U+13A0-U+13F5 into the Cherokee Supplement (U+AB70-U+ABBF), and
    # the normalizer lowercases before matching (python/DuckDB/JVM all
    # apply the same default case mapping here).
    "chr": ("ꭰꮄ ", "ꮎꮝꭹ", "ꮝꭹ ", "ᏼꮻ", "ꭴꮒ", "ꮒꭶꮣ", "ꭲꭶ", "ꭸꮢ",
            "ꭿꭰ", "ꭴꮣ", "ꮩꮣ", "ꭶꮪ", "ꮧꭸ", "ꮕꮣ", "ꮵꮔ"),
    "vai": ("ꕉꕜ", "ꕮ ", "ꔔꘋ", "ꖸ ", "ꗋꘋ", "ꕺꕱ", "ꔳ", "ꕢ",
            "ꕞ", "ꗃ", "ꖴ", "ꘉ", "ꔧ", "ꕘ", "ꕮꕊ"),
    "nqo": ("ߞߊ߬", "ߦߋ߫", "ߊ߬ ", "ߌ ", "ߞߍ߫", "ߡߐ߰", "ߛߊ߫", "ߟߊ߫",
            "ߘߐ߫", "ߞߏ", "ߓߊ", "ߣߌ߫", "ߕߊ", "ߖߊ", "ߝߊ"),
    "mni": ("ꯃꯤ", "ꯑꯃ", "ꯗꯥ ", "ꯁꯤ ", "ꯅꯥ ", "ꯒꯤ ", "ꯌꯨ", "ꯕꯥ ",
            "ꯂꯩ", "ꯇꯥ", "ꯄꯨ", "ꯀꯣ", "ꯍꯧ", "ꯆꯠ", "ꯉꯥ"),
    # ---- round-5 breadth tranche B2: Latin-script languages --------
    # Distinctives lead each tuple (rank weight = 15-rank), shared
    # high-frequency units trail so cognate neighbours cannot outscore
    # the owner on its own text.
    # Philippine cluster vs tgl: ceb kini/gyud, ilo dagiti/daytoy,
    # war han/waray, hil sang/subong.
    "ceb": ("nga ", " ug ", "kini", "mao ", "kaayo", "gyud", "karon",
            "adunay", "ilang", "usa ", "ka ", "ang ", "mga ", "sa ", "dili"),
    "ilo": ("dagiti", "agiti", "daytoy", "iti ", " iti", "ken ", "adda ",
            "ditoy", "isuda", "amin ", "ti ", "nga ", "met ", "idiay", "maysa"),
    "war": ("han ", " han", "hin ", "waray", "dida ", "yana ", "hira ",
            "ini ", "kay ", "ha ", "nga ", "mga ", "ngan ", "adto ", "niya"),
    "hil": ("sang ", "kag ", "amo ", "gid ", "subong", "sila ", "ini ",
            "indi ", "ila ", "ang ", "nga ", "sa ", "mga ", "may ", "karon"),
    # Indonesian cluster vs ind/jav/sun: min urang/untuak, ace
    # ureueng/ngon, ban sane/punika.
    "min": ("urang", "nan ", "untuak", "indak", " jo ", "iko ", "sajo ",
            "bana ", "adolah", "pai ", "ka ", "di ", "itu ", "dari ", "ado "),
    "ace": ("ureu", "eung ", "ngon ", "nyan ", "nyoe ", "jih ", "bak ",
            "hana ", "keu ", "lam ", "uroe ", "gobnyan", "peue ", "lheueh", "watee"),
    "ban": ("sane ", "ring ", "punika", "ipun ", "wenten", "antuk ",
            "sampun", "akeh ", "mangkin", "rahina", "ne ", "ka ", "lan ",
            "jagi ", "olih "),
    # Southern-Bantu cluster vs zul/sna/nya: xho kwaye/ngoku, ssw
    # kutsi/bantfu (ts for zul th), tsn/sot/nso split on
    # jaanong-jaaka / joale-empa / bjale-gomme, ven vhathu, tso leswi.
    "xho": ("kwaye", "waye ", "ukuba", "kuba ", "ngoku", "yaye ",
            "kuyo ", "wona ", "into ", "xa ", "aba", "ntu ", "uku",
            "nge", "eli "),
    "ssw": ("kutsi", "utsi ", "bantfu", "ntfu", "tintfo", "letin",
            "njalo", "manje", "kanye", "lokhu", "emuva", "batsenga",
            "luhle", "nga ", "le "),
    "tsn": ("jaanong", "jaaka", "gore ", "kgotsa", "bangwe", "dingwe",
            "botlhe", "sentle", "thata ", "fela ", "batho", "tse ",
            "kwa ", "ba ", "go "),
    "sot": ("hore ", "joale", "haholo", "empa ", "kamora", "lintho",
            "motho", "ntse ", "tsohle", "sebetsa", "ho ", "ea ", "tsa ",
            "ka ", "oa "),
    "nso": ("gomme", "bjale", "kudu ", "gape ", "morago", "mošomo",
            "šoma", "dilo ", "tšeo", "yeo ", "go ", "ba ", "le ",
            "ka ", "wa "),
    "ven": ("vhathu", "hathu", "vha ", "zwithu", "zwi ", "ndi ", "uri ",
            "musi ", "hone ", "nahone", "khou ", "renga", "shuma",
            "nga ", "ha "),
    "tso": ("vanhu", "swilo", "swi ", "leswi", "kambe", "naswona",
            "tirha", "sweswi", "xava ", "siku ", "va ", "ku ", "hi ",
            "eka ", "yo "),
    # Rwanda-Rundi split: run ivyo/vyinshi (ky→vy shift) + ariko/baca.
    "run": ("ivyo ", "vyinshi", "vyin", "ariko", "muri ", "kuko ",
            "baca ", "hanyuma", "rero ", "igihe", "canke", "ubu ",
            "bara", "umu", "aba"),
    "lug": ("okuva", "oluvannyuma", "ddala ", "ebintu", "bingi ",
            "katale", "olunaku", "bagenda", "nnyo ", "buli ", "kati ",
            "era ", "naye ", "mu ", "nga "),
    # West-African Latin: ewe ɖ/ƒ/ŋ, bam ɔ/ɛ, ful ɓ/ɗ, sag â/î/ô,
    # orm doubled vowels, kik ĩ/ũ.
    "ewe": ("geɖe", "kple ", "egbe ", "amewo", "ƒe ", "ɖe ", "nyuie",
            "asi ", "ŋu", "ɖo ", "wo ", "le ", "na ", "nu ", "yi "),
    "bam": ("mɔgɔ", "caman", "baara", "sugu ", "ɲuman", "bɛ ", "kɛ ",
            "dɔn", "sisan", "ka ", "la ", "ye ", "ni ", "don ", "ko "),
    "ful": ("yimɓe", "heewɓe", "ɓe ", "ɗum ", "jooni", "golle",
            "luumo", "ñalnde", "fof ", "ngol", "ko ", "nde ", "ha ",
            "ɗo ", "e "),
    "sag": ("âzo ", "mîngi", "tî ", "lâsô", "ála ", "kua ", "gara ",
            "tongana", "nî ", "sô ", "gue ", "vo ", "pëpe", "nzönî",
            "na "),
    "orm": ("namoonni", "keessa", "hojii", "gabaa", "guyyaa", "baayee",
            "isaan ", "jiru ", "dhaqu", "bitatu", "kan ", "itti ",
            "dha ", "fi ", "aa "),
    "kik": ("mũndũ", "andũ", "thiĩ", "ndũnyũ", "wĩra", "maingĩ",
            "mũno", "gũkũ", "ũyũ", "nĩ ", "na ", "kũ", "wa ", "rĩu ",
            "ũcio"),
    # Andean: que -kuna plural + llaqta, aym jaqi/qhathu.
    "que": ("runakuna", "paykuna", "llaqta", "llam", "chay", "hatun",
            "punchaw", "rinku", "achka", "kuna", "manta", "pi ",
            "wan ", "qa ", "ta "),
    "aym": ("jaqinaka", "qhathu", "jichha", "walja", "sarapxi",
            "alasi", "ukax", "jach", "naka", "uru ", "mpi ", "ata ",
            "iri ", "axa ", "apxi"),
    # Oceania: mri tangata/tenei, smo tagata/galulue, ton ʻoku/ngāue,
    # fij cakacaka/oqo, tpi bilong/dispela.
    "mri": ("tangata", "tenei ", "ratou ", "whare ", "maha ", "hoki ",
            "kei ", "mahi ", "o te ", "i te ", "te ", "nga ", "ki ",
            "ana ", "he "),
    "smo": ("tagata", "galulue", "faatau", "lenei ", "latou ",
            "maketi", "aso ", "tele ", "o le ", "i le ", "le ", "ona ",
            "ua ", "ma ", "mea "),
    "ton": ("ʻoku ", "ʻi he", "kakai", "ngāue", "fakatau", "lahi ",
            "ʻaho ", "kinautolu", "maketi", "ki he", "he ", "mo e ",
            "ni ", "ke ", "ʻa e"),
    "fij": ("tamata", "cakacaka", "makete", "oqo ", "era ", "levu ",
            "siga ", "vaka", "ki na ", "e na ", "kei ", "na ", "sa ",
            "ni ", "me "),
    "tpi": ("bilong", "dispela", "planti", "maket ", "samting",
            "tude ", "wok ", "long ", "ol ", "i go ", "em ", "na ",
            "gat ", "ples ", "gut"),
    # Nordic/Slavic splits: nno ikkje/dei vs nob, fao eisini/teir vs
    # isl, bos pijacu/također vs hrv.
    "nno": ("ikkje", "dei ", "noko ", "kvar ", "fleire", "gjere",
            "vere ", "frå ", "etterpå", "mykje", "òg ", "ein ",
            "arbeider", "går ", "eit "),
    "fao": ("eisini", "teir ", "nógv", "fólk ", "arbeiða", "keypa",
            "marknaðin", "dagin", "aftaná", "øll ", "vørur", "hjá ",
            "góður", "hetta", "fara "),
    "bos": ("također", "kako ", "danas ", "mnogo ", "nakon ", "kupuju",
            "stvari", "rade ", "idu ", "pijacu", "ljudi ", "polju",
            "lijep", "ovo ", "za "),
    # ---- round-5 breadth tranche C: to franc-parity (187) ----------
    # Cyrillic minority languages: distinctive letterforms (ҧ/ә/ҟ abk,
    # ӟ/ӥ udm, ӧ/і kom, ҥ/ӱ mhr, ө/ү/ң tyv, къ/дж krc, гӏ/лъ ava,
    # һ/э bua) plus function words vs rus/ukr/tat/kir/che/mon.
    "abk": ("ауаа ", "аҟны ", "иҟоу", "ҳара ", "дара ", "аусура",
            "ақалақь", "даара", "аҽны ", "еиҳа", "ажәа", "арахь",
            "ашҭа", "аӡә", "зегьы"),
    "udm": ("адямиос", "ужало ", "туннэ ", "базаре ", "басьто",
            "мыно ", "нунал ", "ӟеч ", "соос ", "трос ", "котьку",
            "но ", "уж ", "ке ", "лэн "),
    "kom": ("йӧз ", "уджалӧны", "талун", "сэсся", "мунӧны", "уна ",
            "босьтӧны", "налӧн", "найӧ", "лун ", "бур ", "ӧны ",
            "да ", "кӧ ", "зэв "),
    "mhr": ("влак ", "пашам", "ыштат", "таче ", "пазарыш", "шуко ",
            "налыт", "кече ", "чылал", "нуно ", "сай ", "ден ",
            "ӱмбал", "еҥ ", "ӧрт"),
    "myv": ("ломанть", "важодить", "течи ", "мейле", "сынь ",
            "молить", "базаров", "ламо ", "рамить", "чись ", "паро ",
            "весе", "ды ", "эрь", "зэ "),
    "tyv": ("болгаш", "кижилер", "ажылдап", "хүндүс", "бөгүн",
            "турар ", "садып ", "алыр ", "хөй ", "баар ", "чер ",
            "соонда", "чүве ", "эки ", "бо "),
    "krc": ("этедиле", "барадыла", "аладыла", "адамла", "бюгюн",
            "ишлейдиле", "базарга", "сатып ", "кёп ", "бла ", "къой",
            "джол", "кюн ", "ла ", "ны "),
    "ava": ("гӏемер", "гӏадамал", "хӏалтӏ", "базаралде", "жакъа",
            "босула", "лъикӏ", "гьаб ", "руго ", "щиб ", "уна ",
            "къо ", "ва ", "бер", "ул "),
    "bua": ("хүнүүд", "мүнөө", "һайн", "юумэ ", "худалдажа",
            "абана", "тиигээд", "ажал ", "гэжэ ", "олон ", "байна",
            "ехэ ", "дэ ", "үүд ", "нууд"),
    # Latin tranche C: creoles split on blong/bilong (bis/tpi) and
    # bann/zot (mfe vs hat/fra); Polynesian haw ʻokina+kahakō; kal
    # polysynthetic suffix runs; classical lat; Romance minorities
    # (roh/srd/fur); kmr Kurmanji; mww White Hmong RPA; Bantu/Nilotic
    # (bem/luo).
    "kal": ("inuit ", "ullumi", "suliapput", "niuertarfi", "pisiar",
            "amerlasuut", "erlap", "ssani", "arpa", "unga", "mut ",
            "put ", "llu", "neq", "toq"),
    "haw": ("poʻe", "lākou", "kēia", "mākeke", "hana ", "hele ",
            "nui ", "i ka ", "ka ", "na ", "lā ", "ma ", "ua ",
            "mea ", "maikaʻi"),
    "bis": ("blong ", "oli ", "hemia", "tumas", "tede ", "gutfala",
            "mo ", "stap ", "pem ", "plante", "ol ", "long ", "wok ",
            "man ", "olgeta"),
    "pap": ("hopi ", "nan ", "awe ", "kumpra", "traha", "kunuku",
            "merkado", "bai ", "ta ", "di ", "un ", "e ", "pa ",
            "ku ", "den "),
    "mfe": ("bann ", "dimounn", "zot ", "aster", "boukou", "laplas",
            "travay", "zordi", "kitsoz", "ena ", "pe ", "al ", "li ",
            "dan ", "enn "),
    "srn": ("furu ", "wroko", "den ", "fu ", "tide ", "wowoyo",
            "sani ", "bay ", "go ", "na ", "e ", "dey ", "ala ",
            "nanga", "disi"),
    "lat": ("atque ", "homines", "agris", "forum", "multa", "emunt",
            "hodie", "que ", "orum", "ibus", "unt ", "est ", "cum ",
            "bus ", "am "),
    "roh": ("blers ", "lavuran", "marchà", "chompran", "chaussas",
            "suenter", "ils ", "ina ", "eir ", "cun ", "quai ",
            "els ", "oz ", "ed ", "tuts"),
    "kmr": ("gelek ", "mirov", "bazarê", "îro ", "tiştan", "dikin",
            "diçin", "xwe ", "ku ", "û ", "ji ", "li ", "ew ",
            "kar ", "piştre"),
    "mww": ("thiab ", "lawv ", "neeg ", "hnub ", "ntau ", "khw ",
            "khwv", "tsis ", "yog ", "zoo ", "cov ", "mus ", "ua ",
            "rau ", "tej "),
    "luo": ("kendo ", "mangeny", "kawuono", "chiro ", "nyiewo",
            "tich ", "gik ", "moko ", "dhi ", "duto ", "ji ", "gi ",
            "ne ", "e ", "ma "),
    "bem": ("balebomba", "ukushita", "ifintu", "ifingi", "nomba ",
            "bushiku", "maliketi", "abengi", "bonse ", "sana ",
            "abantu", "elyo ", "mu ", "ku ", "ba "),
    "srd": ("sos ", "sas ", "custa", "medas ", "traballant", "oe ",
            "andant", "comporant", "die ", "bona ", "unu ", "in ",
            "de ", "est ", "che "),
    "fur": ("ancje", "cjase", "vuê ", "lavorin", "marcjât", "robis",
            "tantis", "int ", "e po ", "une ", "di ", "il ", "la ",
            "zornade", "ducj"),
}

# the reference's ISO-639-3 → ISO-639-1 table (language.js:6-13), the
# subset our profiles cover
ISO3_TO_1: dict[str, str] = {
    "amh": "am", "arb": "ar", "ben": "bn", "bul": "bg", "cat": "ca",
    "ces": "cs", "cmn": "zh", "deu": "de", "ell": "el", "eng": "en",
    "est": "et", "eus": "eu", "fas": "fa", "fin": "fi", "fra": "fr",
    "guj": "gu", "heb": "he", "hin": "hi", "hun": "hu", "hye": "hy",
    "ind": "id", "isl": "is", "ita": "it", "jpn": "ja", "kan": "kn",
    "kat": "ka", "khm": "km", "kor": "ko", "lao": "lo", "lav": "lv",
    "lit": "lt", "mal": "ml", "mya": "my", "nld": "nl", "nob": "no",
    "pan": "pa", "pol": "pl", "por": "pt", "ron": "ro", "rus": "ru",
    "sin": "si", "spa": "es", "swe": "sv", "swh": "sw", "tam": "ta",
    "tel": "te", "tgl": "tl", "tha": "th", "tur": "tr", "ukr": "uk",
    "urd": "ur", "vie": "vi",
    # round-4 additions
    "afr": "af", "azj": "az", "bel": "be", "cym": "cy", "gle": "ga",
    "glg": "gl", "hrv": "hr", "kaz": "kk", "mkd": "mk", "mlt": "mt",
    "slk": "sk", "slv": "sl", "som": "so", "sqi": "sq", "srp": "sr",
    "uzn": "uz", "yor": "yo", "zul": "zu",
    # round-5 additions
    "dan": "da", "hat": "ht", "jav": "jv", "nya": "ny", "sna": "sn",
    "ibo": "ig", "hau": "ha", "mlg": "mg", "kin": "rw", "lin": "ln",
    "wol": "wo", "aka": "ak", "epo": "eo", "ltz": "lb", "fry": "fy",
    "gla": "gd", "bre": "br", "oci": "oc", "grn": "gn", "sun": "su",
    "tuk": "tk", "kir": "ky", "tgk": "tg", "mon": "mn", "mar": "mr",
    "nep": "ne", "pus": "ps", "uig": "ug", "snd": "sd", "ori": "or",
    "asm": "as", "div": "dv", "bod": "bo", "tir": "ti", "yid": "yi",
    # round-5 tranche A: real ISO-639-1 codes where they exist;
    # macrolanguage members take the macro's 2-letter code (the same
    # convention as cmn→zh / arb→ar / swh→sw above); codes with neither
    # fall back to "en" exactly like the reference lookup miss
    # (language.js:44 `iso3to1(iso6393) || 'en'`)
    "san": "sa", "kas": "ks", "tat": "tt", "bak": "ba", "chv": "cv",
    "che": "ce", "oss": "os", "dzo": "dz", "iku": "iu",
    "yue": "zh", "ckb": "ku", "arz": "ar", "pnb": "pa",
    "bho": "en", "mai": "en", "awa": "en", "mag": "en", "hne": "en",
    "gom": "en", "skr": "en", "sah": "en",
    # round-5 tranche B (same convention)
    "iii": "ii", "xho": "xh", "ssw": "ss", "tsn": "tn", "sot": "st",
    "ven": "ve", "tso": "ts", "run": "rn", "lug": "lg", "ewe": "ee",
    "bam": "bm", "ful": "ff", "orm": "om", "kik": "ki", "que": "qu",
    "aym": "ay", "mri": "mi", "smo": "sm", "ton": "to", "fij": "fj",
    "nno": "nn", "fao": "fo", "bos": "bs", "sag": "sg",
    "sat": "en", "chr": "en", "vai": "en", "nqo": "en", "mni": "en",
    "ceb": "en", "ilo": "en", "war": "en", "hil": "en", "min": "en",
    "ace": "en", "ban": "en", "tpi": "en", "nso": "en",
    # round-5 tranche C (same convention; abk/ava/kom/chv-style member
    # codes without a 2-letter code fall back to "en")
    "abk": "ab", "kal": "kl", "lat": "la", "roh": "rm", "kmr": "ku",
    "ava": "av", "kom": "kv", "bis": "bi", "srd": "sc", "luo": "en",
    "udm": "en", "mhr": "en", "myv": "en", "tyv": "en", "krc": "en",
    "bua": "en", "haw": "en", "pap": "en", "mfe": "en", "srn": "en",
    "mww": "en", "bem": "en", "fur": "en",
}
LANG_DEFAULT_ISO3 = "eng"

# Script gates: every trigram of the gated language contains ≥1 char in
# the range, so `text lacks the script ⇒ score is 0` — skipping the
# profile when the gate does not match is an IDENTITY on results
# (asserted in tests) that saves ~half the profile arithmetic on any
# single-script text. Latin-script languages are gated by
# LATIN_KERNEL_CLASS instead.
LANG_SCRIPT_GATES: dict[str, str] = {
    "amh": r"[ሀ-፿]", "arb": r"[؀-ۿ]",
    "ben": r"[ঀ-৿]", "bul": r"[Ѐ-ӿ]",
    "cmn": r"[一-鿿]", "ell": r"[Ͱ-Ͽ]",
    "fas": r"[؀-ۿ]", "guj": r"[઀-૿]",
    "heb": r"[֐-׿]", "hin": r"[ऀ-ॿ]",
    "hye": r"[԰-֏]", "jpn": r"[぀-ヿ]",
    "kan": r"[ಀ-೿]", "kat": r"[Ⴀ-ჿ]",
    "khm": r"[ក-៿]", "kor": r"[가-힯]",
    "lao": r"[຀-໿]", "mal": r"[ഀ-ൿ]",
    "mya": r"[က-႟]", "pan": r"[਀-੿]",
    "rus": r"[Ѐ-ӿ]", "sin": r"[඀-෿]",
    "tam": r"[஀-௿]", "tel": r"[ఀ-౿]",
    "tha": r"[฀-๿]", "ukr": r"[Ѐ-ӿ]",
    "urd": r"[؀-ۿ]",
    "srp": r"[Ѐ-ӿ]", "mkd": r"[Ѐ-ӿ]",
    "bel": r"[Ѐ-ӿ]", "kaz": r"[Ѐ-ӿ]",
    # round-5 additions: Cyrillic / Devanagari / Arabic-script reuse the
    # existing ranges; Odia, Thaana, Tibetan get their own blocks;
    # Assamese shares the Bengali block, Tigrinya the Ethiopic one,
    # Yiddish the Hebrew one
    "kir": r"[Ѐ-ӿ]", "tgk": r"[Ѐ-ӿ]", "mon": r"[Ѐ-ӿ]",
    "mar": r"[ऀ-ॿ]", "nep": r"[ऀ-ॿ]",
    "pus": r"[؀-ۿ]", "uig": r"[؀-ۿ]", "snd": r"[؀-ۿ]",
    "ori": r"[଀-୿]", "asm": r"[ঀ-৿]", "div": r"[ހ-޿]",
    "bod": r"[ༀ-࿿]", "tir": r"[ሀ-፿]", "yid": r"[֐-׿]",
    # round-5 tranche A: Devanagari cluster shares the hin range,
    # Perso-Arabic the arb range, Cyrillic the rus range; Dzongkha the
    # Tibetan block, Cantonese the Han block; Inuktitut gets the
    # Canadian-syllabics block
    "bho": r"[ऀ-ॿ]", "mai": r"[ऀ-ॿ]", "awa": r"[ऀ-ॿ]",
    "mag": r"[ऀ-ॿ]", "hne": r"[ऀ-ॿ]", "san": r"[ऀ-ॿ]",
    "gom": r"[ऀ-ॿ]",
    "ckb": r"[؀-ۿ]", "skr": r"[؀-ۿ]", "kas": r"[؀-ۿ]",
    "pnb": r"[؀-ۿ]", "arz": r"[؀-ۿ]",
    "tat": r"[Ѐ-ӿ]", "bak": r"[Ѐ-ӿ]", "chv": r"[Ѐ-ӿ]",
    "sah": r"[Ѐ-ӿ]", "che": r"[Ѐ-ӿ]", "oss": r"[Ѐ-ӿ]",
    "dzo": r"[ༀ-࿿]", "yue": r"[一-鿿]", "iku": r"[᐀-ᙿ]",
    # round-5 tranche B1: one new block each — Ol Chiki, Yi syllables,
    # Cherokee, Vai, NKo, Meetei Mayek
    "sat": r"[᱐-᱿]", "iii": r"[ꀀ-꓿]", "chr": r"[Ꭰ-᏿ꭰ-ꮿ]",
    "vai": r"[ꔀ-꘿]", "nqo": r"[߀-߿]", "mni": r"[ꯀ-꯿]",
    # round-5 tranche C: Cyrillic minorities reuse the rus range
    "abk": r"[Ѐ-ӿ]", "udm": r"[Ѐ-ӿ]", "kom": r"[Ѐ-ӿ]",
    "mhr": r"[Ѐ-ӿ]", "myv": r"[Ѐ-ӿ]", "tyv": r"[Ѐ-ӿ]",
    "krc": r"[Ѐ-ӿ]", "ava": r"[Ѐ-ӿ]", "bua": r"[Ѐ-ӿ]",
}

# Latin-script gate for every language NOT in LANG_SCRIPT_GATES, so a
# CJK/Arabic/Indic row skips ALL Latin profile sums. Python re lacks
# Java's \p{IsLatin}; the class is Basic Latin + Latin-1/Extended-A/B +
# IPA + Latin Extended Additional + Extended-C + Extended-D. Every
# ungated profile trigram must contain >=1 char IN THIS CLASS for the
# gate to be an identity; tests/test_textstats.py::
# test_latin_gate_identity_invariant asserts that against this exact
# class, so a profile using only outside-class letters (e.g. the U+02BB
# ʻokina, script=Common) fails the test instead of silently zeroing.
LATIN_KERNEL_CLASS = "[A-Za-zÀ-ÖØ-öø-ʯḀ-ỿⱠ-ⱿꜢ-ꟿ]"


def lang_normtext_col(text: Column | str) -> Column:
    """' ' + lowercased letters+marks-only text + ' ' (trigram counting
    base). Combining marks (\\p{M}) are KEPT: Indic vowel signs, Thai
    tone marks and Arabic-script diacritics are load-bearing for those
    languages' trigrams — franc likewise counts them as word chars."""
    c = F.col(text) if isinstance(text, str) else text
    return F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(c), r"[^\p{L}\p{M}]+", " ")),
        F.lit(" "),
    )


def langid_batch_col(norm_text: Column) -> Column:
    """The SCALE path for full-breadth language ID: one Arrow-batched
    kernel returning struct(iso6391, iso6393, best_score), checked
    against the DuckDB oracle's score algebra (q_langid) and by the
    edge-text pins in tests/test_textstats.py.

    Why a kernel and not Column algebra: the declarative form needs
    |languages| × 15 replace-scans in ONE projection; at 70 languages
    that is ~1050 expression terms and janino aborts whole-stage
    codegen with 'Code grows beyond 64 KB', leaving the whole scoring
    tree in interpreted mode (~45 ms/row measured at sf0.1). Per
    Arrow batch this kernel does the identical arithmetic with
    C-level non-overlapping `str.count` (== the replace-based count)
    plus compiled script-gate regexes, in O(|text| + gated profiles):
    ~1 ms/row, and breadth growth costs O(1) per added language for
    non-matching scripts. Input must ALREADY be lang_normtext_col
    output (normalization stays JVM-side).

    Semantics: per-trigram weight (15-rank), non-overlapping counts,
    script gates as hard zeroes, max score with alphabetical-iso6393
    tie-break, all-zero -> eng/en."""
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # plain-data captures only (closures must pickle to executors).
    # Each profile token carries its min(len,3)-char prefix: a token
    # absent-by-prefix from the row's substring sets has count 0, so
    # the O(|text|) str.count scan is skipped. For one-language text
    # most of the ~1500 gate-open foreign tokens fail this test (their
    # leading trigram never occurs), turning the hot loop from ~1500
    # C substring scans/row into 3 substring-set builds + dict probes
    # (measured 2.5× at sf1; value-identical under the DuckDB oracle).
    profiles = {
        lang: tuple(
            (tg, len(tgs) - i, tg[:3], min(len(tg), 3))
            for i, tg in enumerate(tgs)
        )
        for lang, tgs in LANG_TRIGRAMS.items()
    }
    gates = dict(LANG_SCRIPT_GATES)
    iso1_map = dict(ISO3_TO_1)
    default3, default1 = LANG_DEFAULT_ISO3, LANG_DEFAULT

    latin_cls = LATIN_KERNEL_CLASS

    def _kernel(s):
        gate_res = {g: _re.compile(g) for g in set(gates.values())}
        latin_re = _re.compile(latin_cls)
        by_gate: dict = {}
        for lang in sorted(profiles):
            by_gate.setdefault(gates.get(lang), []).append(lang)
        iso1_out, iso3_out, best_out = [], [], []
        for nt in s:
            nt = nt or ""
            # substring-presence sets, one pass each (uni/bi/tri)
            grams = (
                None,
                set(nt),
                {nt[i:i + 2] for i in range(len(nt) - 1)},
                {nt[i:i + 3] for i in range(len(nt) - 2)},
            )
            best_score, best_lang = 0, None
            for gate, gl in by_gate.items():
                if gate is None:
                    if not latin_re.search(nt):
                        continue
                elif not gate_res[gate].search(nt):
                    continue
                for lang in gl:
                    score = 0
                    for tg, w, pref, plen in profiles[lang]:
                        if pref not in grams[plen]:
                            continue
                        c = nt.count(tg)
                        if c:
                            score += c * w
                    if score > best_score or (
                        score == best_score and score > 0
                        and (best_lang is None or lang < best_lang)
                    ):
                        best_score, best_lang = score, lang
            if best_score > 0:
                iso3_out.append(best_lang)
                iso1_out.append(iso1_map[best_lang])
            else:
                iso3_out.append(default3)
                iso1_out.append(default1)
            best_out.append(best_score)
        return pd.DataFrame(
            {"iso6391": iso1_out, "iso6393": iso3_out,
             "best_score": pd.array(best_out, dtype="int64")}
        )

    # type hints attached as real objects (not strings): `from
    # __future__ import annotations` stringifies inline hints, which
    # pandas_udf's hint resolution can't always evaluate; this replaces
    # the deprecated explicit PandasUDFType.SCALAR argument
    _kernel.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    udf = pandas_udf(
        _kernel, "iso6391 string, iso6393 string, best_score long",
    )
    return udf(norm_text)


# AFINN-style lexicon over this engine's synthetic-corpus vocabulary
# (the reference ships AFINN-165 as a dependency; the scoring algebra —
# sum, comparative = sum/token_count, threshold labels — is what we
# reproduce).
AFINN_MINI: dict[str, int] = {
    "fast": 2,
    "big": 1,
    "merge": 1,
    "slow": -2,
    "small": -1,
    "dup": -1,
    "good": 3,
    "great": 3,
    "bad": -3,
    "error": -2,
}

STOPWORDS_MINI = ("a", "the", "and", "of", "to", "in")

# --------------------------------------------------------------- POS gate
#
# Deterministic stand-in for retext-pos noun gating
# (/root/reference/controllers/keywordParser.js:10-28 runs retext-pos and
# retext-keywords, which rank only noun / noun-phrase spans). A perceptron
# tagger isn't reproducible as Column algebra, so the gate is: a closed
# lexicon of function words + high-frequency verb forms + bare adverbs,
# plus suffix heuristics (-ly adverbs, -ing gerunds, -ed participles) with
# noun whitelists, and a proper-noun bypass for capitalized surfaces.
# Open-class nouns pass by default (a noun lexicon is unbounded);
# adjectives also pass, which matters for keyphrase interiors
# ("economic growth"). Trade-off: common verb forms are dropped even in
# noun usage ("a good run") — documented fidelity gap, far smaller than
# the round-2 one (verbs/adverbs ranking as keywords).

NON_NOUN_LEXICON = tuple(sorted({
    # be/have/do + modals
    "am", "is", "are", "was", "were", "been", "be",
    "have", "has", "had", "having", "do", "does", "did", "done",
    "will", "would", "can", "could", "shall", "should", "may", "might",
    "must", "ought",
    # high-frequency verb forms (base/past/participle)
    "go", "goes", "went", "gone", "get", "gets", "got", "gotten",
    "make", "makes", "made", "take", "takes", "took", "taken",
    "come", "comes", "came", "see", "sees", "saw", "seen",
    "know", "knows", "knew", "known", "say", "says", "said",
    "think", "thinks", "thought", "want", "wants", "use", "uses",
    "find", "finds", "found", "give", "gives", "gave", "given",
    "tell", "tells", "told", "become", "becomes", "became",
    "leave", "leaves", "left", "put", "puts", "mean", "means", "meant",
    "keep", "keeps", "kept", "let", "lets", "begin", "begins", "began",
    "begun", "seem", "seems", "help", "helps", "show", "shows", "shown",
    "hear", "hears", "heard", "run", "runs", "ran", "move", "moves",
    "live", "lives", "believe", "believes", "bring", "brings", "brought",
    "happen", "happens", "write", "writes", "wrote", "written",
    "sit", "sits", "sat", "stand", "stands", "stood", "lose", "loses",
    "lost", "pay", "pays", "paid", "meet", "meets", "met",
    "include", "includes", "continue", "continues", "set", "sets",
    "learn", "learns", "lead", "leads", "led", "understand", "understood",
    "watch", "follow", "follows", "stop", "stops", "speak", "speaks",
    "spoke", "spoken", "read", "reads", "allow", "allows", "add", "adds",
    "spend", "spends", "spent", "grow", "grows", "grew", "grown",
    "win", "wins", "won", "buy", "buys", "bought", "send", "sends",
    "sent", "build", "builds", "built", "fall", "falls", "fell",
    "fallen", "cut", "cuts", "reach", "remain", "remains",
    # bare adverbs / particles
    "very", "quite", "rather", "too", "also", "often", "always", "never",
    "sometimes", "soon", "now", "then", "here", "there", "again",
    "almost", "already", "still", "yet", "just", "even", "perhaps",
    "maybe", "together", "away", "back", "not", "only",
    # prepositions / conjunctions / determiners / pronouns
    "a", "an", "the", "and", "or", "nor", "but", "so", "if", "because",
    "although", "though", "unless", "whether", "while", "when", "where",
    "about", "above", "across", "after", "against", "along", "among",
    "around", "as", "at", "before", "behind", "below", "beneath",
    "beside", "between", "beyond", "by", "despite", "down", "during",
    "except", "for", "from", "in", "into", "like", "near", "of", "off",
    "on", "onto", "out", "outside", "over", "past", "per", "since",
    "than", "that", "this", "these", "those", "through", "throughout",
    "till", "toward", "towards", "under", "until", "up", "upon", "with",
    "within", "without", "i", "you", "he", "she", "it", "we", "they",
    "me", "him", "her", "us", "them", "my", "your", "his", "its", "our",
    "their", "mine", "yours", "hers", "ours", "theirs", "myself",
    "yourself", "himself", "herself", "itself", "ourselves",
    "themselves", "who", "whom", "whose", "which", "what", "any", "all",
    "both", "each", "few", "more", "most", "other", "some", "such",
    "no", "own", "same",
}))

ING_NOUNS = tuple(sorted({
    "morning", "evening", "building", "meeting", "training", "housing",
    "funding", "warning", "wedding", "painting", "ceiling", "feeling",
    "finding", "hearing", "spring", "string", "beginning", "ending",
    "opening", "setting", "living", "writing", "reading", "learning",
    "planning", "spending", "spelling", "heading", "booking", "clothing",
    "engineering", "marketing", "advertising", "publishing",
    "manufacturing", "mining", "fishing", "farming", "shipping",
    "shopping", "cooking", "swimming", "everything", "nothing",
    "something", "anything", "lightning", "darling", "sibling",
    "dumpling", "duckling",
}))

ED_NOUNS = tuple(sorted({
    "hundred", "breed", "speed", "creed", "greed", "watershed",
    "seabed", "bobsled", "newlywed", "proceed", "exceed", "indeed",
}))

LY_NOUNS = tuple(sorted({
    "family", "assembly", "supply", "rally", "ally", "italy",
    "monopoly", "butterfly", "jelly", "belly", "lily", "anomaly",
    "bully", "folly", "holly", "tally", "july",
}))


def pos_noun_gate_col(tok: Column) -> Column:
    """TRUE when `tok` may rank as a keyword (noun-ish). Capitalized
    surfaces pass (proper nouns); lowercase surfaces fail on the
    function-word/common-verb lexicon and the suffix heuristics."""
    low = F.lower(tok)
    lex_ok = ~low.isin(*NON_NOUN_LEXICON)
    ly_bad = low.endswith("ly") & (F.length(low) > 4) & ~low.isin(*LY_NOUNS)
    ing_bad = low.endswith("ing") & (F.length(low) > 5) & ~low.isin(*ING_NOUNS)
    ed_bad = low.endswith("ed") & (F.length(low) > 4) & ~low.isin(*ED_NOUNS)
    return tok.rlike(r"^\p{Lu}") | (lex_ok & ~ly_bad & ~ing_bad & ~ed_bad)


def pos_noun_gate_sql(expr: str) -> str:
    """DuckDB twin of `pos_noun_gate_col`, generated from the same
    constants so the two sides cannot drift."""
    def inlist(words):
        return ", ".join(f"'{w}'" for w in words)

    low = f"lower({expr})"
    return (
        f"(regexp_matches({expr}, '^\\p{{Lu}}') OR ({low} NOT IN ({inlist(NON_NOUN_LEXICON)})"
        f" AND NOT ({low} LIKE '%ly' AND length({expr}) > 4"
        f" AND {low} NOT IN ({inlist(LY_NOUNS)}))"
        f" AND NOT ({low} LIKE '%ing' AND length({expr}) > 5"
        f" AND {low} NOT IN ({inlist(ING_NOUNS)}))"
        f" AND NOT ({low} LIKE '%ed' AND length({expr}) > 4"
        f" AND {low} NOT IN ({inlist(ED_NOUNS)}))))"
    )


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ------------------------------------------------------------ tokens


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text; empty text → empty array."""
    t = F.trim(_c(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, TOKEN_SPLIT_RE)
    )


def token_count_col(text: Column | str) -> Column:
    return F.size(tokens_col(text))


def occurrences_col(text: Column | str, word: str,
                    tokens: Column | None = None) -> Column:
    """Exact whole-token occurrence count: size(filter(tokens, = word)).
    Token-based (not replace-count) so adjacent repeats are counted
    correctly; oracle SQL twin is len(list_filter(string_split_regex(...))).

    Pass `tokens` (a materialized tokens_col column) when counting
    several words over the same text — otherwise each call re-splits
    the full string per row (see q_text_quality: 9 splits → 1).

    Shape note: size(toks) - size(array_remove(toks, w)) — NOT
    size(filter(toks, = w)). filter() is a higher-order function and
    HOFs never enter whole-stage codegen (each element runs an
    interpreted lambda); array_remove is an ordinary codegen'd
    collection expression. Same value: array_remove drops exactly the
    elements equal to w (token arrays are never null — tokens_col
    returns [] for empty text, and split never yields null elements)."""
    toks = tokens if tokens is not None else tokens_col(text)
    return (F.size(toks) - F.size(F.array_remove(toks, word))).cast("long")


# -------------------------------------------------------- readability


def readability_cols(text: Column | str,
                     tokens: Column | None = None) -> dict[str, Column]:
    """A4: characters, words, sentences, paragraphs, readingTime(sec).
    `tokens` = optional pre-materialized tokens_col column (avoids one
    re-split when the caller already staged it)."""
    t = _c(text)
    words = F.size(tokens) if tokens is not None else token_count_col(t)
    sentences = F.size(
        F.filter(F.split(t, r"[.!?]+"), lambda s: F.trim(s) != F.lit(""))
    )
    paragraphs = F.size(
        F.filter(F.split(t, r"\n{2,}"), lambda s: F.trim(s) != F.lit(""))
    )
    return {
        "characters": F.length(t).cast("long"),
        "words": words.cast("long"),
        "sentences": F.greatest(sentences, F.lit(1)).cast("long"),
        "paragraphs": F.greatest(paragraphs, F.lit(1)).cast("long"),
        # reference: Math.round(words / 200 * 60) seconds (readability.js:55)
        "reading_time": F.round(words / F.lit(200.0) * F.lit(60.0)).cast("long"),
    }


# ------------------------------------------------------------ quality


def with_quality(df: DataFrame, text_col: str = "text",
                 tokens: Column | None = None) -> DataFrame:
    """Training-data quality signals as staged projections:
    `stopword_hits`, `alpha_ratio_x1e4` and `quality_score` (additive
    over length, mean word length, stopword ratio and alpha ratio,
    clamped to [0,100] and rounded to an integer so the value is
    hash-stable across engines).

    `quality_score` shares the stopword occurrence sum and the alpha
    regexp with the other two; as independent Column trees, selecting
    the three together evaluates the heavy subtrees ~2× per row
    (measured 2.3 s for the combined projection vs ~0.5 s per staged
    piece at sf1). Here each shared scalar is materialized once behind a
    Project boundary (CollapseProject keeps non-cheap exprs referenced
    >1× un-inlined) and the outputs are cheap derivations."""
    t = _c(text_col)
    toks = tokens if tokens is not None else tokens_col(text_col)
    df = df.withColumn("_q_nchars", F.length(t))
    df = df.withColumn("_q_nwords", F.size(toks))
    stop = None
    for w in STOPWORDS_MINI:
        o = occurrences_col(t, w, tokens=toks)
        stop = o if stop is None else stop + o
    df = df.withColumn("_q_stop", stop.cast("long"))
    df = df.withColumn(
        "_q_alpha", F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    )
    nch, nw = F.col("_q_nchars"), F.col("_q_nwords")
    st, al = F.col("_q_stop"), F.col("_q_alpha")
    df = df.withColumn(
        "_q_alpha_ratio",
        F.when(nch > 0, al.cast("double") / nch).otherwise(F.lit(0.0)),
    )
    df = df.withColumn(
        "_q_mean",
        F.when(nw > 0, nch.cast("double") / nw).otherwise(F.lit(0.0)),
    )
    df = df.withColumn(
        "_q_stop_ratio",
        F.when(nw > 0, st.cast("double") / nw).otherwise(F.lit(0.0)),
    )
    score = (
        F.least(nch.cast("double") / F.lit(20.0), F.lit(40.0))
        + F.lit(30.0) * F.col("_q_alpha_ratio")
        + F.lit(20.0) * F.least(F.col("_q_stop_ratio") * F.lit(4.0), F.lit(1.0))
        + F.lit(10.0)
        * F.when(
            (F.col("_q_mean") >= 3.0) & (F.col("_q_mean") <= 8.0), F.lit(1.0)
        ).otherwise(F.lit(0.0))
    )
    return (
        df.withColumn("stopword_hits", st)
        .withColumn(
            "alpha_ratio_x1e4",
            F.round(F.col("_q_alpha_ratio") * 10000).cast("long"),
        )
        .withColumn(
            "quality_score",
            F.round(F.least(score, F.lit(100.0))).cast("long"),
        )
        .drop("_q_nchars", "_q_nwords", "_q_stop", "_q_alpha",
              "_q_alpha_ratio", "_q_mean", "_q_stop_ratio")
    )


# -------------------------------------------------------- fingerprints


# The positive complement of [A-Za-z0-9À-￿] — identical match set
# (pinned by tests/test_textstats.py::test_normtext_positive_class
# _equivalence), but Spark 4.1's regexp_replace hits a slow path on
# negated classes with 3+ ranges (measured ~7x on dense alnum input;
# see urls.B64_JUNK_RE for the same fix on the base64 cleaner).
NORMTEXT_JUNK_RE = "[\\x00-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-\\xbf]+"


def normalize_text_col(text: Column | str) -> Column:
    """X1-style normalization: non-alnum→space, collapse, trim, lower."""
    t = F.regexp_replace(_c(text), NORMTEXT_JUNK_RE, " ")
    return F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))


def fingerprint_col(text: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of normalized text (portable)."""
    return F.md5(normalize_text_col(text))


# GPT-2-style pre-tokenizer pattern, restricted to constructs shared by
# Java regex (Spark) and RE2 (DuckDB): no lookahead, leftmost-first
# alternation in the same order on both engines. Branches: contraction
# suffixes, space+letters, space+digits, space+other, whitespace runs.
BPE_TOKEN_RE = r"'[a-zA-Z]{1,2}| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count_col(text: Column | str) -> Column:
    """LLM-pipeline token counting: GPT-style pre-tokenizer match count
    (an upper-bound proxy for BPE token counts — every BPE token is a
    piece of exactly one pre-token). Pure Column expression; the DuckDB
    twin is len(regexp_extract_all(text, same_pattern)).

    regexp_count rather than size(regexp_extract_all): the same
    non-overlapping match count without materializing an array of every
    token substring per row (~40% cheaper at sf1, value-identical)."""
    return F.regexp_count(_c(text), F.lit(BPE_TOKEN_RE)).cast("long")


def bag_fingerprint_col(text: Column | str) -> Column:
    """Order-insensitive fingerprint: md5 of the sorted token bag —
    catches shuffled near-dups that exact hashing misses."""
    toks = F.array_sort(F.split(normalize_text_col(text), " "))
    return F.md5(F.array_join(toks, " "))


def excerpt_col(text: Column | str) -> Column:
    """X8: first 200 chars extended to the next word boundary, then
    first letter capitalized (index.js:1399 behavior)."""
    limit = 200
    t = F.trim(F.regexp_replace(_c(text), r"\s+", " "))
    snippet = F.when(F.length(t) <= limit, t).otherwise(
        F.concat(
            F.substring(t, 1, limit),
            F.when(
                F.substring(t, limit, 1) == " ", F.lit("")
            ).otherwise(F.split(F.substring(t, limit + 1, 1_000_000), " ")[0]),
        )
    )
    trimmed = F.trim(snippet)
    return F.when(
        F.length(trimmed) > 0,
        F.concat(F.upper(F.substring(trimmed, 1, 1)), F.substring(trimmed, 2, 1_000_000)),
    ).otherwise(F.lit(None).cast("string"))


# ------------------------------------------------ string helpers (X3/X5)


def strip_punctuation_col(c: Column) -> Column:
    """X3 stripPunctuation (/root/reference/helpers.js:98-103): keep
    letters/digits/space/'’-, collapse whitespace, trim."""
    out = F.regexp_replace(c, r"[^\p{L}\p{N}\s'’-]+", "")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def title_case_col(c: Column) -> Column:
    """X5 toTitleCase (/root/reference/helpers.js:105-109): per
    whitespace token, find the first word char, uppercase it, lowercase
    the rest; leading non-word chars pass through (the JS \\w\\S* match
    starts at the first word char)."""
    def _tc(w: Column) -> Column:
        prefix = F.regexp_extract(w, r"^([^\w]*)", 1)
        rest = F.substring(w, F.length(prefix) + 1, F.lit(1_000_000))
        return F.concat(
            prefix,
            F.upper(F.substring(rest, 1, 1)),
            F.lower(F.substring(rest, 2, 1_000_000)),
        )

    return F.array_join(F.transform(F.split(c, " "), _tc), " ")


# ------------------------------------------------ keyword cleaning (N3)
# The reference's deterministic keyword-cleaning cascade
# (/root/reference/controllers/keywordParser.js:84-96 cleanKeyword,
# languageUtils.js:3-10 normalizeToken, :90-95 isAllCapsWord,
# helpers.js:81-89 stripPossessive). normalizeToken's NFD+strip-marks
# is distilled to an exact char map generated from unicodedata over the
# Latin-1 Supplement / Latin Extended range — identical semantics for
# every char NFD actually decomposes there, and the same map constant
# renders into the DuckDB oracle via translate().


def _build_diacritic_map() -> tuple[str, str]:
    import unicodedata

    src, dst = [], []
    for cp in range(0xC0, 0x250):
        ch = chr(cp)
        d = unicodedata.normalize("NFD", ch)
        if (
            len(d) >= 2
            and d[0].isascii()
            and all(unicodedata.combining(c) for c in d[1:])
        ):
            src.append(ch)
            dst.append(d[0])
    return "".join(src), "".join(dst)


DIAC_SRC, DIAC_DST = _build_diacritic_map()


def normalize_token_col(c: Column) -> Column:
    """normalizeToken: NFD diacritic strip (map-exact) + lower + trim."""
    return F.lower(F.trim(F.translate(c, DIAC_SRC, DIAC_DST)))


def strip_possessive_col(c: Column) -> Column:
    """stripPossessive on a single token: drop 's / ’s then trailing
    non-alphanumerics (helpers.js:81-89)."""
    return F.regexp_replace(
        F.regexp_replace(c, r"['’][sS]\b", ""), r"[^\p{L}\p{N}]+$", ""
    )


def capitalize_first_col(c: Column) -> Column:
    """X4 capitalizeFirstLetter (helpers.js:77-79): upper-case the first
    character, rest untouched."""
    return F.concat(
        F.upper(F.substring(c, 1, 1)), F.substring(c, 2, 1_000_000)
    )


def clean_keyword_col(tok: Column) -> Column:
    """cleanKeyword: NULL when rejected, else the capitalized
    possessive-stripped surface form."""
    t = F.regexp_replace(F.trim(tok), r"\s+", " ")
    norm = normalize_token_col(t)
    all_caps = (t == F.upper(t)) & t.rlike(r"\p{Lu}")
    stripped = strip_possessive_col(t)
    cleaned = capitalize_first_col(stripped)
    ok = (
        t.rlike(r"\p{L}")
        & (F.length(norm) >= 2)
        & ~norm.isin(*STOPWORDS_MINI)
        & ~(all_caps & (F.length(norm) > 4))
        & ~norm.rlike("^[0-9]+$")
        & (F.length(cleaned) > 0)
    )
    return F.when(ok, cleaned)


# cleaned keywords kept per document
K_CLEANED = 8


def keywords_cleaned_topk(docs: DataFrame) -> DataFrame:
    """N3 with the reference's cleaning cascade: tokens → POS noun gate
    (retext-pos stand-in) → cleanKeyword → dedupe on the normalized
    cleaned form (keywordSeen, keywordParser.js:33-46) → TF top
    K_CLEANED (count desc, keyword asc)."""
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col("doc_id"), F.explode(tokens_col("text")).alias("_raw")
    ).filter(pos_noun_gate_col(F.col("_raw")))
    cleaned = toks.select(
        F.col("doc_id"), clean_keyword_col(F.col("_raw")).alias("_kw")
    ).filter(F.col("_kw").isNotNull())
    keyed = cleaned.withColumn("_key", normalize_token_col(F.col("_kw")))
    tf = keyed.groupBy("doc_id", "_key").agg(
        F.count("*").alias("tf"), F.min("_kw").alias("keyword")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("keyword"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_CLEANED)
        .select("doc_id", "keyword", "tf", "rank")
    )


# keywords per document: the top K_TERMS terms and the top K_PHRASES
# noun phrases of PHRASE_LENGTHS words
K_TERMS, K_PHRASES = 10, 8
PHRASE_LENGTHS = (2, 3)


def keywords_phrases_batch(docs: DataFrame) -> DataFrame:
    """A9/N3 keywords + keyphrases: ONE Arrow batch kernel per doc row
    instead of explode → (doc, gram) hash-agg → per-doc window —
    per-document TF top-k needs no cross-row state, so shuffles would
    be pure overhead.

    - terms: whitespace tokens (_java_tokens) that are not stopwords
      (STOPWORDS_MINI), longer than one char and pass the POS noun gate
      (retext-keywords' noun filter, keywordParser.js:10-28); top
      K_TERMS by (tf desc, term asc).
    - phrases: word 2- and 3-grams (PHRASE_LENGTHS), pooled into one
      ranking (retext-keywords ranks spans of any length together,
      keywordParser.js:32-77); dropped when the first or last word is a
      stopword, any word fails the gate (adjectives pass, so "economic
      growth" survives while "running quickly" does not) or the phrase
      is ≤3 chars; docs of fewer than two tokens yield none. Top
      K_PHRASES by (tf desc, phrase asc); score = tf / max_tf per doc,
      the reference's normalized weight.

    The noun gate (first-char Lu | lexicon + ly/ing/ed suffix rules) is
    memoized per distinct surface token across the batch and evaluated
    once per token POSITION per doc, so each n-gram checks precomputed
    flags. round(x, 9) and round(x*1e9) replicate Spark's
    HALF_UP-on-shortest-repr double rounding via Decimal, so score_x1e9
    equals the oracle's integer.

    Output is already exploded: (doc_id, kind, gram, tf, rank, score_x1e9)
    with kind='term' rows (score_x1e9 null) and kind='phrase' rows.
    """
    import unicodedata
    from collections import Counter
    from typing import Iterator

    import pandas as pd

    non_noun = frozenset(NON_NOUN_LEXICON)
    ly_n = frozenset(LY_NOUNS)
    ing_n = frozenset(ING_NOUNS)
    ed_n = frozenset(ED_NOUNS)
    stop = frozenset(STOPWORDS_MINI)

    id_field = docs.schema["doc_id"]
    out_schema = (
        f"doc_id {id_field.dataType.simpleString()}, kind string, "
        "gram string, tf long, rank int, score_x1e9 long"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gate_cache: dict[str, bool] = {}

        def gate(tok: str) -> bool:
            g = gate_cache.get(tok)
            if g is None:
                if tok and unicodedata.category(tok[0]) == "Lu":
                    g = True
                else:
                    low = tok.lower()
                    g = (
                        low not in non_noun
                        and not (low.endswith("ly") and len(low) > 4
                                 and low not in ly_n)
                        and not (low.endswith("ing") and len(low) > 5
                                 and low not in ing_n)
                        and not (low.endswith("ed") and len(low) > 4
                                 and low not in ed_n)
                    )
                gate_cache[tok] = g
            return g

        for pdf in batches:
            ids, kinds, grams, tfs, ranks, scores = [], [], [], [], [], []
            for rid, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _java_tokens(text if text is not None else "")
                # kind='term': stopword + length + gate filter, TF,
                # (tf desc, term asc) top-k
                cnt = Counter(
                    t for t in toks
                    if t not in stop and len(t) > 1 and gate(t)
                )
                for rk, (term, tf) in enumerate(
                    sorted(cnt.items(), key=lambda it: (-it[1], it[0]))[:K_TERMS],
                    start=1,
                ):
                    ids.append(rid); kinds.append("term"); grams.append(term)
                    tfs.append(tf); ranks.append(rk); scores.append(None)
                # kind='phrase': all n-grams of each length, edge-
                # stopword + len>3 + all-words-gated, pooled ranking,
                # score = round(tf/max_tf, 9)
                if len(toks) < min(PHRASE_LENGTHS):
                    continue
                gates = [gate(t) for t in toks]
                stops = [t in stop for t in toks]
                pcnt: Counter = Counter()
                n_toks = len(toks)
                for ln in PHRASE_LENGTHS:
                    for i in range(n_toks - ln + 1):
                        if stops[i] or stops[i + ln - 1]:
                            continue
                        if not all(gates[i:i + ln]):
                            continue
                        p = " ".join(toks[i:i + ln])
                        if len(p) > 3:
                            pcnt[p] += 1
                if not pcnt:
                    continue
                max_tf = max(pcnt.values())
                for rk, (p, tf) in enumerate(
                    sorted(pcnt.items(), key=lambda it: (-it[1], it[0]))[:K_PHRASES],
                    start=1,
                ):
                    s9 = float(_round_half_up(tf / max_tf, 9))
                    ids.append(rid); kinds.append("phrase"); grams.append(p)
                    tfs.append(tf); ranks.append(rk)
                    scores.append(int(_round_half_up(s9 * 1_000_000_000, 0)))
            yield pd.DataFrame({
                "doc_id": ids, "kind": kinds, "gram": grams,
                "tf": pd.Series(tfs, dtype="int64"),
                "rank": pd.Series(ranks, dtype="int32"),
                "score_x1e9": pd.Series(scores, dtype="object"),
            })

    sel = docs.select(F.col("doc_id"), F.col("text"))
    return sel.mapInPandas(kernel, out_schema)


# ------------------------------------------------- per-doc stat kernels
#
# Arrow-batched text_quality / sentiment (the langid/keywords pattern,
# guide §4): every output is per-document, so a declarative plan's only
# real cost is its very large generated expression tree — dozens of
# regex/array scans whose codegen classes dominate first- and
# second-run JIT time. The kernels do the integer/double arithmetic in
# one Python pass per row. text_quality_batch is pinned bit-exact to
# its staged Column algebra (tests/test_textstats.py::test_text_quality
# _kernel_matches_declarative); sentiment_batch is checked against the
# DuckDB oracle over the corpus plus adversarial documents
# (tests/test_oracle_parity.py).
#
# Java-regex semantics are mirrored EXACTLY, not approximated:
# - Java \s (no UNICODE_CHARACTER_CLASS) is ASCII [ \t\n\x0B\f\r];
# - Spark trim() strips U+0020 only;
# - \p{L}/\p{N} need the `regex` module (same Unicode categories);
# - array_sort compares strings by UTF-16 code units (mirrored by
#   sorting on the utf-16-be encoding);
# - round() is BigDecimal HALF_UP on the shortest decimal repr
#   (mirrored by _round_half_up, as in the keywords kernel).

_JAVA_WS = "[ \t\n\x0b\f\r]"
_JAVA_WS_RUN = re.compile(_JAVA_WS + "+")
_NORMTEXT_JUNK = re.compile(NORMTEXT_JUNK_RE)


def _round_half_up(x: float, digits: int) -> Decimal:
    """Spark round(double, digits): BigDecimal.valueOf(x) (shortest
    repr, == Python repr) quantized HALF_UP — replicated exactly."""
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits),
                                     rounding=ROUND_HALF_UP)


def _java_tokens(text: str) -> list[str]:
    """Python mirror of tokens_col: trim(U+0020) then split on Java
    \\s+; whole-empty trimmed text -> []."""
    t = text.strip(" ")
    if t == "":
        return []
    return _JAVA_WS_RUN.split(t)


def _java_normalize(text: str) -> str:
    """Python mirror of normalize_text_col: junk→space, Java-\\s+
    collapse, trim(U+0020), lower — bit-identical (pinned by the
    text_quality kernel test via bag_fp and by the dedup kernel
    tests)."""
    t = _NORMTEXT_JUNK.sub(" ", text)
    t = _JAVA_WS_RUN.sub(" ", t)
    return t.strip(" ").lower()


def text_quality_batch(docs: DataFrame) -> DataFrame:
    """q_text_quality's full output row in one Arrow kernel pass —
    bit-identical to readability_cols + occurrences_col + with_quality
    + bpe_token_count_col + bag_fingerprint_col over the same text."""
    import hashlib
    from typing import Iterator

    import pandas as pd
    import regex as _ure

    sent_re = re.compile(r"[.!?]+")
    para_re = re.compile(r"\n{2,}")
    non_alpha_re = re.compile(r"[^A-Za-z]+")
    bpe_re = _ure.compile(
        r"'[a-zA-Z]{1,2}| ?\p{L}+| ?\p{N}+"
        r"| ?[^ \t\n\x0b\f\r\p{L}\p{N}]+|" + _JAVA_WS + "+"
    )
    stop = STOPWORDS_MINI

    id_field = docs.schema["doc_id"]
    out_schema = (
        f"doc_id {id_field.dataType.simpleString()}, characters long, "
        "words long, sentences long, paragraphs long, reading_time long, "
        "n_the long, n_bpe_tokens long, stopword_hits long, "
        "alpha_ratio_x1e4 long, quality_score long, bag_fp string"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "characters", "words", "sentences", "paragraphs",
                "reading_time", "n_the", "n_bpe_tokens", "stopword_hits",
                "alpha_ratio_x1e4", "quality_score", "bag_fp")}
            for text in pdf["text"]:
                t = text if text is not None else ""
                toks = _java_tokens(t)
                n_chars = len(t)
                n_words = len(toks)
                n_sent = sum(1 for s in sent_re.split(t) if s.strip(" "))
                n_para = sum(1 for s in para_re.split(t) if s.strip(" "))
                rows["characters"].append(n_chars)
                rows["words"].append(n_words)
                rows["sentences"].append(max(n_sent, 1))
                rows["paragraphs"].append(max(n_para, 1))
                rows["reading_time"].append(
                    int(_round_half_up(n_words / 200.0 * 60.0, 0)))
                rows["n_the"].append(sum(1 for x in toks if x == "the"))
                rows["n_bpe_tokens"].append(len(bpe_re.findall(t)))
                # stopword_hits accumulates in STOPWORDS_MINI order like
                # the staged sum (integer adds — order-insensitive)
                counts: dict[str, int] = {}
                for x in toks:
                    if x in stop:
                        counts[x] = counts.get(x, 0) + 1
                stop_hits = sum(counts.get(w, 0) for w in stop)
                rows["stopword_hits"].append(stop_hits)
                n_alpha = len(non_alpha_re.sub("", t))
                alpha_ratio = (n_alpha / n_chars) if n_chars > 0 else 0.0
                mean_wl = (n_chars / n_words) if n_words > 0 else 0.0
                stop_ratio = (stop_hits / n_words) if n_words > 0 else 0.0
                score = (
                    min(n_chars / 20.0, 40.0)
                    + 30.0 * alpha_ratio
                    + 20.0 * min(stop_ratio * 4.0, 1.0)
                    + 10.0 * (1.0 if 3.0 <= mean_wl <= 8.0 else 0.0)
                )
                rows["alpha_ratio_x1e4"].append(
                    int(_round_half_up(alpha_ratio * 10000, 0)))
                rows["quality_score"].append(
                    int(_round_half_up(min(score, 100.0), 0)))
                bag = _java_normalize(t).split(" ")
                bag.sort(key=lambda s: s.encode("utf-16-be"))
                rows["bag_fp"].append(
                    hashlib.md5(" ".join(bag).encode("utf-8")).hexdigest())
            out = pdf[["doc_id"]].copy()
            for k, v in rows.items():
                out[k] = pd.Series(
                    v, dtype=("object" if k == "bag_fp" else "int64"))
            yield out

    sel = docs.select(F.col("doc_id"), F.col("text"))
    return sel.mapInPandas(kernel, out_schema)


def sentiment_batch(docs: DataFrame) -> DataFrame:
    """A10 sentiment, q_sentiment's output row, in one Arrow kernel
    pass: AFINN_MINI sum over whitespace tokens (_java_tokens), comparative
    = score / token_count (0 for no tokens) scaled to an integer, and
    the reference's label quirk — Neutral only at comparative == 0.05
    exactly. `score_join` repeats the score: the oracle computes it a
    second way (explode → lexicon join → sum), and both must agree."""
    from typing import Iterator

    import pandas as pd

    id_field = docs.schema["doc_id"]
    out_schema = (
        f"doc_id {id_field.dataType.simpleString()}, "
        "sentiment_score long, comparative_x1e6 long, "
        "sentiment_label string, score_join long"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scores, comps, labels = [], [], []
            for text in pdf["text"]:
                toks = _java_tokens(text if text is not None else "")
                score = 0
                for x in toks:
                    s = AFINN_MINI.get(x)
                    if s is not None:
                        score += s
                n = len(toks)
                comp = (score / n) if n > 0 else 0.0
                scores.append(score)
                comps.append(int(_round_half_up(comp * 1_000_000, 0)))
                labels.append(
                    "Positive" if comp > 0.05
                    else ("Negative" if comp < 0.05 else "Neutral"))
            out = pdf[["doc_id"]].copy()
            out["sentiment_score"] = pd.Series(scores, dtype="int64")
            out["comparative_x1e6"] = pd.Series(comps, dtype="int64")
            out["sentiment_label"] = labels
            out["score_join"] = pd.Series(scores, dtype="int64")
            yield out

    sel = docs.select(F.col("doc_id"), F.col("text"))
    return sel.mapInPandas(kernel, out_schema)
