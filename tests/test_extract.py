"""Extraction pipeline unit tests: decode ladder, format sniffing,
HTML text/link extraction, plus full-fixture golden parity (pure
Python — the Spark path is covered by test_crawl_e2e)."""

import codecs

from atra_spark.functions.extract import (
    decode_bytes,
    extract_html,
    extract_js,
    extract_plaintext,
    sniff_format,
)
from atra_spark.functions.langdata import UND, detect_lang


class TestDecode:
    def test_utf8_clean(self):
        t, enc, err = decode_bytes("héllo".encode("utf-8"))
        assert (t, enc, err) == ("héllo", "utf-8", False)

    def test_bom_utf8(self):
        t, enc, err = decode_bytes(codecs.BOM_UTF8 + b"hi")
        assert (t, enc, err) == ("hi", "utf-8", False)

    def test_bom_utf16le(self):
        t, enc, err = decode_bytes(codecs.BOM_UTF16_LE + "hi".encode("utf-16-le"))
        assert (t, enc, err) == ("hi", "utf-16-le", False)

    def test_meta_charset_latin1(self):
        raw = '<html><head><meta charset="iso-8859-1"></head><body>café</body></html>'.encode(
            "iso-8859-1"
        )
        t, enc, err = decode_bytes(raw)
        assert enc == "iso-8859-1" and "café" in t and not err

    def test_invalid_utf8_falls_back_lossy(self):
        t, enc, err = decode_bytes(b"\xff\xfe\xfa garbage \x80")
        assert t is not None  # never raises

    def test_none(self):
        assert decode_bytes(None) == (None, "none", False)


class TestSniff:
    def test_mime_wins(self):
        assert sniff_format("text/html; charset=utf-8", b"xx", "u") == "HTML"
        assert sniff_format("application/json", b"<html>", "u") == "JSON"

    def test_magic_bytes(self):
        assert sniff_format(None, b"%PDF-1.4", "u") == "PDF"
        assert sniff_format(None, b"\x89PNG\r\n", "u") == "IMAGE"
        assert sniff_format(None, b"PK\x03\x04", "u") == "ZIP"

    def test_html_heuristic(self):
        assert sniff_format(None, b"  <!DOCTYPE html><html>", "u") == "HTML"
        assert sniff_format(None, b"<html lang=en>", "u") == "HTML"

    def test_extension_fallback(self):
        assert sniff_format(None, b"var x=1;", "https://a.example/x.js") == "JavaScript"
        assert sniff_format(None, b"hello", "https://a.example/x.txt") == "PlainText"


PAGE = "https://h.example/p.html"


class TestHtmlExtract:
    def test_text_in_document_order(self):
        html = "<!DOCTYPE html><html><head><title>T</title></head><body><p>a</p> <p>b</p></body></html>"
        text, links = extract_html(html, PAGE)
        assert text == "Ta b"

    def test_entities_decoded(self):
        text, _ = extract_html("<p>a &amp; b &lt;c&gt;</p>", PAGE)
        assert text == "a & b <c>"

    def test_comments_and_tags_excluded(self):
        text, _ = extract_html("<p>x<!-- hidden -->y</p>", PAGE)
        assert text == "xy"

    def test_script_text_included(self):
        # html5ever keeps script bodies as text nodes; scraper's .text()
        # yields them (language_detection.rs:131-137)
        text, _ = extract_html("<script>var a=1;</script><p>b</p>", PAGE)
        assert text == "var a=1;b"

    def test_links_resolved_and_classified(self):
        html = '<a href="/x">i</a><a href="https://other.example/y">o</a>'
        _, links = extract_html(html, PAGE)
        assert ("https://h.example/x", "onseed", "html_a") in links
        assert ("https://other.example/y", "outgoing", "html_a") in links

    def test_rel_nofollow_skipped(self):
        _, links = extract_html('<a href="/x" rel="nofollow">i</a><a href="/y">j</a>', PAGE)
        assert [u for u, _, _ in links] == ["https://h.example/y"]

    def test_rel_nofollow_kept_when_disabled(self):
        """respect_nofollow=False keeps anchor-level nofollow links too
        (the config gates BOTH the meta-robots and the rel= case)."""
        _, links = extract_html(
            '<a href="/x" rel="nofollow">i</a><a href="/y">j</a>',
            PAGE,
            respect_nofollow=False,
        )
        assert [u for u, _, _ in links] == [
            "https://h.example/x",
            "https://h.example/y",
        ]

    def test_meta_robots_nofollow_drops_all_links(self):
        html = '<meta name="robots" content="nofollow"><a href="/x">i</a>'
        text, links = extract_html(html, PAGE)
        assert links == [] and "i" in text

    def test_meta_robots_nofollow_ignored_when_disabled(self):
        html = '<meta name="robots" content="nofollow"><a href="/x">i</a>'
        _, links = extract_html(html, PAGE, respect_nofollow=False)
        assert len(links) == 1

    def test_base_href(self):
        html = '<base href="https://h.example/base/"><a href="rel.html">i</a>'
        _, links = extract_html(html, PAGE)
        assert links[0][0] == "https://h.example/base/rel.html"

    def test_self_and_fragment_links_dropped(self):
        html = f'<a href="{PAGE}">s</a><a href="#f">f</a><a href="/other">o</a>'
        _, links = extract_html(html, PAGE)
        assert [u for u, _, _ in links] == ["https://h.example/other"]

    def test_duplicates_first_occurrence(self):
        html = '<a href="/x">1</a><a href="/x#frag">2</a><a href="/x">3</a>'
        _, links = extract_html(html, PAGE)
        assert [u for u, _, _ in links] == ["https://h.example/x"]

    def test_data_url(self):
        _, links = extract_html('<a href="data:text/plain;base64,aGk=">d</a>', PAGE)
        assert links == [("data:text/plain;base64,aGk=", "data", "html_a")]

    def test_aggressive_media_sources(self):
        html = '<img src="/i.png"><form action="/post"><script src="/s.js"></script></form>'
        _, conservative = extract_html(html, PAGE)
        assert conservative == []
        _, aggressive = extract_html(html, PAGE, aggressive=True)
        urls = {u for u, _, _ in aggressive}
        assert urls == {
            "https://h.example/i.png",
            "https://h.example/post",
            "https://h.example/s.js",
        }


class TestOtherExtractors:
    def test_xml_svg_extraction(self):
        from atra_spark.functions.extract import extract_xml

        xml = (
            '<svg xmlns="http://www.w3.org/2000/svg">'
            '<a xlink:href="/img/x.svg"><text>Label &amp; more</text></a>'
            '<image href="https://cdn.example/pic.png"/></svg>'
        )
        text, links = extract_xml(xml, PAGE)
        assert "Label & more" in text
        urls = {u for u, _k, _m in links}
        assert "https://h.example/img/x.svg" in urls
        assert "https://cdn.example/pic.png" in urls

    def test_rtf_extraction(self):
        from atra_spark.functions.extract import extract_rtf

        rtf = r"{\rtf1\ansi Hello \b world\b0 see https://h.example/doc}"
        text, links = extract_rtf(rtf, PAGE)
        assert "Hello" in text and "world" in text
        assert any(u == "https://h.example/doc" for u, _k, _m in links)

    def test_zip_recursion(self):
        import io
        import zipfile

        from atra_spark.functions.extract import extract_zip

        inner = io.BytesIO()
        with zipfile.ZipFile(inner, "w") as z:
            z.writestr("deep.html", '<html><a href="https://deep.example/x">d</a></html>')
        outer = io.BytesIO()
        with zipfile.ZipFile(outer, "w") as z:
            z.writestr("page.html", '<html><a href="/top">t</a>body text</html>')
            z.writestr("nested.zip", inner.getvalue())
        text, links = extract_zip(outer.getvalue(), PAGE)
        urls = {u for u, _k, _m in links}
        assert "https://h.example/top" in urls
        assert "https://deep.example/x" in urls  # one-level recursion
        assert "body text" in text

    def test_js_href_scan(self):
        links = extract_js('nav({href: "/x"}); a.href="https://o.example/y"', PAGE)
        urls = {u for u, _, _ in links}
        assert urls == {"https://h.example/x", "https://o.example/y"}

    def test_plaintext_linkify(self):
        links = extract_plaintext("see https://o.example/a. and http://h.example/b,", PAGE)
        assert {u for u, _, _ in links} == {"https://o.example/a", "http://h.example/b"}


class TestLang:
    def test_detects_fixture_langs(self):
        assert detect_lang("the page and the data of it")[0] == "eng"
        assert detect_lang("der wert und das netz ist gut")[0] == "deu"

    def test_und_on_no_markers(self):
        assert detect_lang("zzz qqq 123")[0] == UND

    def test_empty(self):
        assert detect_lang("") == (None, None)


class TestGoldenParity:
    """Byte-identical text + exact link sets across the whole fixture
    corpus — the per-row invariant of BASELINE.json."""

    def test_full_corpus(self, fixture_set):
        for url, _ts, html_bytes, golden_text, golden_lang in fixture_set.pages:
            text, _enc, _err = decode_bytes(html_bytes)
            dom_text, links = extract_html(text, url)
            assert dom_text == golden_text, f"text mismatch for {url}"
            assert links == fixture_set.golden_links[url], f"links mismatch for {url}"
            assert detect_lang(dom_text)[0] == golden_lang, f"lang mismatch for {url}"


class TestLangIdWidening:
    """Round-3 widening: 14 profile-only languages on top of the 7
    fixture languages (whatlang coverage direction,
    language_detection.rs:97-253). Held-out sentences (NOT the profile
    samples) must classify correctly — including the hard pairs
    por/spa, swe/dan, rus/ukr, pol/ces."""

    HELD_OUT = {
        "por": "as páginas foram guardadas porque você não quer perder o texto mas também as ligações que estão na rede",
        "nld": "de pagina's werden bewaard omdat je de tekst niet wilt verliezen maar ook de links die in het netwerk staan",
        "pol": "strony zostały zapisane ponieważ nie chcesz stracić tekstu ale także łączy które są w sieci",
        "tur": "sayfalar kaydedildi çünkü metni kaybetmek istemiyorsunuz ama ağdaki bağlantıları da",
        "ces": "stránky byly uloženy protože nechcete ztratit text ale také odkazy které jsou v síti",
        "swe": "sidorna sparades eftersom du inte vill förlora texten men också länkarna som finns i nätverket",
        "dan": "siderne blev gemt fordi du ikke vil miste teksten men også henvisningerne der er i netværket",
        "ron": "paginile au fost păstrate pentru că nu vrei să pierzi textul dar și legăturile care sunt în rețea",
        "fin": "sivut tallennettiin koska et halua menettää tekstiä mutta myös linkit jotka ovat verkossa",
        "hun": "az oldalakat elmentették mert nem akarod elveszíteni a szöveget de a hivatkozásokat sem amelyek a hálózatban vannak",
        "ukr": "сторінки були збережені тому що ви не хочете втратити текст але також посилання які є в мережі",
        "ell": "οι σελίδες φυλάχτηκαν γιατί δεν θέλετε να χάσετε το κείμενο αλλά και τους συνδέσμους που είναι στο δίκτυο",
        "kor": "페이지 가 저장 되었습니다 왜냐하면 텍스트 를 잃고 싶지 않기 때문입니다",
        "ara": "تم حفظ الصفحات لأنك لا تريد أن تفقد النص ولكن أيضا الروابط التي في الشبكة",
        "heb": "הדפים נשמרו כי אינך רוצה לאבד את הטקסט אבל גם את הקישורים שנמצאים ברשת",
        "fas": "صفحه ها نگه داشته شدند زیرا نمی خواهید متن را از دست بدهید اما همچنین پیوندهایی که در شبکه هستند",
        "hin": "पृष्ठ सुरक्षित किए गए क्योंकि आप पाठ को खोना नहीं चाहते लेकिन उन कड़ियों को भी जो जाल में हैं",
        "tha": "หน้าถูกเก็บไว้เพราะคุณไม่ต้องการสูญเสียข้อความแต่รวมถึงลิงก์ที่อยู่ในเครือข่ายด้วย",
        "vie": "các trang đã được lưu vì bạn không muốn mất văn bản nhưng cũng các liên kết đang ở trong mạng",
        "ind": "halaman halaman disimpan karena anda tidak ingin kehilangan teks tetapi juga tautan yang ada di jaringan",
        "zho": "页面被保存因为你不想失去文本但是也包括在网络里的链接",
        "bul": "страниците бяха запазени защото не искате да изгубите текста но също и връзките които са в мрежата",
        "nor": "sidene ble lagret fordi du ikke vil miste teksten men også lenkene som er i nettverket",
    }

    # round-4 tranche: 10 more, incl. the hard pairs cat/spa/por,
    # slk/ces, est/fin, afr/nld, hrv/slv, srp/bul/rus
    HELD_OUT_R4 = {
        "cat": "les pàgines es van desar perquè no voleu perdre el text però també els enllaços que són a la xarxa",
        "hrv": "stranice su spremljene jer ne želite izgubiti tekst ali i veze koje su u mreži",
        "srp": "странице су сачуване јер не желите да изгубите текст али и везе које су у мрежи",
        "slk": "stránky boli uložené pretože nechcete stratiť text ale aj odkazy ktoré sú v sieti",
        "slv": "strani so bile shranjene ker ne želite izgubiti besedila pa tudi povezave ki so v mreži",
        "lit": "puslapiai buvo išsaugoti nes nenorite prarasti teksto bet ir nuorodos kurios yra tinkle",
        "lav": "lapas tika saglabātas jo jūs nevēlaties zaudēt tekstu bet arī saites kas ir tīklā",
        "est": "lehed salvestati sest te ei taha teksti kaotada aga ka lingid mis on võrgus",
        "afr": "die bladsye is gestoor want jy wil nie die teks verloor nie maar ook die skakels wat in die netwerk is",
        "tgl": "ang mga pahina ay na-save dahil ayaw mong mawala ang teksto pati na rin ang mga link na nasa network",
    }

    # round-4b tranche: 14 script-unique languages (identified by
    # script alone, confidence = script purity) + 10 shared-script
    # group members — Devanagari becomes a trigram group (hin/mar/nep),
    # Hebrew script likewise (heb/yid), Cyrillic gains bel/mkd, Arabic
    # gains urd, Latin gains epo/aze/uzb/lat. 64 languages total
    # (whatlang's ~60-language coverage bar).
    HELD_OUT_R4B = {
        # script-unique
        "ben": "পৃষ্ঠাগুলি সংরক্ষণ করা হয়েছে কারণ আপনি পাঠ্য হারাতে চান না কিন্তু নেটওয়ার্কে থাকা লিঙ্কগুলিও",
        "pan": "ਪੰਨੇ ਸੰਭਾਲੇ ਗਏ ਕਿਉਂਕਿ ਤੁਸੀਂ ਲਿਖਤ ਗੁਆਉਣਾ ਨਹੀਂ ਚਾਹੁੰਦੇ ਪਰ ਉਹ ਕੜੀਆਂ ਵੀ ਜੋ ਜਾਲ ਵਿੱਚ ਹਨ",
        "guj": "પાનાં સાચવવામાં આવ્યાં કારણ કે તમે લખાણ ગુમાવવા માંગતા નથી પણ જાળમાં રહેલી કડીઓ પણ",
        "ori": "ପୃଷ୍ଠାଗୁଡ଼ିକ ସଂରକ୍ଷିତ ହେଲା କାରଣ ଆପଣ ଲେଖା ହରାଇବାକୁ ଚାହାଁନ୍ତି ନାହିଁ",
        "tam": "பக்கங்கள் சேமிக்கப்பட்டன ஏனெனில் நீங்கள் உரையை இழக்க விரும்பவில்லை ஆனால் வலையில் உள்ள இணைப்புகளும்",
        "tel": "పేజీలు భద్రపరచబడ్డాయి ఎందుకంటే మీరు పాఠాన్ని కోల్పోవాలనుకోవడం లేదు",
        "kan": "ಪುಟಗಳನ್ನು ಉಳಿಸಲಾಗಿದೆ ಏಕೆಂದರೆ ನೀವು ಪಠ್ಯವನ್ನು ಕಳೆದುಕೊಳ್ಳಲು ಬಯಸುವುದಿಲ್ಲ",
        "mal": "പേജുകൾ സംരക്ഷിച്ചു കാരണം നിങ്ങൾക്ക് വാചകം നഷ്ടപ്പെടാൻ ആഗ്രഹമില്ല",
        "sin": "පිටු සුරකින ලදී මන්ද ඔබට පෙළ අහිමි වීමට අවශ්‍ය නැති නිසා",
        "mya": "စာမျက်နှာများကို သိမ်းဆည်းထားသည် အကြောင်းမှာ သင် စာသားကို မဆုံးရှုံးလိုသောကြောင့်",
        "khm": "ទំព័រត្រូវបានរក្សាទុកព្រោះអ្នកមិនចង់បាត់បង់អត្ថបទទេ",
        "amh": "ገጾቹ ተቀምጠዋል ምክንያቱም ጽሑፉን ማጣት ስለማትፈልግ",
        "hye": "էջերը պահպանվել են որովհետեւ դուք չեք ուզում կորցնել տեքստը բայց նաեւ այն կապերը որոնք ցանցում են",
        "kat": "გვერდები შეინახა იმიტომ რომ არ გინდათ ტექსტის დაკარგვა მაგრამ ის ბმულებიც რომლებიც ქსელშია",
        # shared-script (trigram-disambiguated within the group)
        "mar": "पाने जतन केली गेली कारण तुम्हाला मजकूर गमवायचा नाही पण जाळ्यात असलेले दुवे सुद्धा",
        "nep": "पृष्ठहरू सुरक्षित गरियो किनभने तपाईं पाठ गुमाउन चाहनुहुन्न तर सञ्जालमा भएका लिङ्कहरू पनि",
        "yid": "די זייטן זענען אפגעהיטן געווארן ווייל איר ווילט נישט פארלירן דעם טעקסט אבער אויך די לינקס וואס זענען אין דער נעץ",
        "bel": "старонкі былі захаваныя таму што вы не хочаце страціць тэкст але таксама спасылкі якія ёсць у сетцы",
        "mkd": "страниците беа зачувани затоа што не сакате да го изгубите текстот но и врските кои се во мрежата",
        "urd": "صفحات محفوظ کیے گئے کیونکہ آپ متن کھونا نہیں چاہتے لیکن وہ روابط بھی جو نیٹ ورک میں ہیں",
        "epo": "la paĝoj estis konservitaj ĉar vi ne volas perdi la tekston sed ankaŭ la ligilojn kiuj estas en la reto",
        "aze": "səhifələr saxlanıldı çünki siz mətni itirmək istəmirsiniz amma şəbəkədə olan keçidləri də",
        "uzb": "sahifalar saqlandi chunki siz matnni yo'qotishni xohlamaysiz lekin tarmoqda bo'lgan havolalarni ham",
        "lat": "paginae servatae sunt quia textum perdere non vis sed etiam vincula quae in rete sunt",
    }

    # round-5 tail: the LAST five whatlang languages — all Latin-script
    # with hard family neighbours (jav/ind Malayo-Polynesian,
    # tuk/tur/aze/uzb Turkic, zul/sna Bantu). 69 languages total =
    # whatlang's full coverage.
    HELD_OUT_R5 = {
        "jav": "kaca kaca wis disimpen amarga sampeyan ora pengin kelangan teks nanging uga pranala sing ana ing jaringan",
        "tuk": "sahypalar saklandy sebäbi siz teksti ýitirmek islemeýärsiňiz emma torda bolan baglanyşyklary hem",
        "aka": "wɔakora nkrataafa no ɛfiri sɛ wompɛ sɛ wohwere atwerɛdeɛ no nanso nkitahodie a ɛwɔ ntam no nso",
        "zul": "amakhasi agciniwe ngoba awufuni ukulahlekelwa umbhalo kodwa nezixhumanisi ezikhona kunethiwekhi",
        "sna": "mapeji akachengetwa nokuti haudi kurasikirwa nemazwi asi nezvisungo zviri mumambure",
    }

    # round-4 calibration: script-first detection (whatlang's own
    # architecture) removed the round-3 ideographic floor — one
    # threshold now means the same thing in every script
    CONF_THRESHOLD = 0.3

    def test_profile_count(self):
        from atra_spark.functions.langdata import DETECT_LANGS, LANGS

        assert len(LANGS) == 7  # frozen fixture set untouched
        assert len(DETECT_LANGS) == 69

    def test_held_out_sentences(self):
        for lang, text in {
            **self.HELD_OUT, **self.HELD_OUT_R4, **self.HELD_OUT_R4B,
            **self.HELD_OUT_R5,
        }.items():
            got, conf = detect_lang(text)
            assert got == lang, f"{lang} -> {got}"
            assert conf and conf > self.CONF_THRESHOLD, (lang, conf)

    def test_script_unique_confidence_is_script_purity(self):
        """Pure single-script text in a script-unique language gets
        confidence ~1.0 — the calibration contract (no trigram floor).
        hin/heb left this list in round 4b: their scripts are now
        trigram groups (mar/nep, yid)."""
        for lang in ("zho", "tha", "ell", "kor", "ben", "tam", "kat",
                     "hye", "khm", "mya", "amh", "sin"):
            got, conf = detect_lang(self.HELD_OUT.get(lang)
                                    or self.HELD_OUT_R4.get(lang)
                                    or self.HELD_OUT_R4B[lang])
            assert got == lang
            assert conf > 0.95, (lang, conf)

    def test_confidence_monotone_in_noise(self):
        """Mixing script noise into a document must not RAISE
        confidence (monotonicity of the calibrated measure)."""
        base = self.HELD_OUT["zho"]
        _, clean = detect_lang(base)
        noisy = base + " abcdef ghijkl mnopqr stuvwx"
        got, dirty = detect_lang(noisy)
        assert got == "zho"
        assert dirty < clean

    def test_kana_separates_japanese_from_chinese(self):
        got_j, _ = detect_lang("これはテキストです保存されました")
        got_z, _ = detect_lang("页面被保存因为你不想失去文本")
        assert (got_j, got_z) == ("jpn", "zho")

    def test_multilingual_mixed_document_dominant_lang(self):
        """A document that is mostly Portuguese with an English quote
        resolves to the dominant language."""
        text = (
            self.HELD_OUT["por"] + " "
            + self.HELD_OUT["por"] + " "
            + "the quick survey shows that this page links data"
        )
        got, _ = detect_lang(text)
        assert got == "por"


class TestFastParserEquivalence:
    """The _PageParser fast paths (strict-tag skip of stdlib attribute
    parsing, see extract.py) must be OBSERVABLY IDENTICAL to the pure
    stdlib parser: same text bytes, same raw link tuples, same base
    href, same meta-nofollow — on real pages and on adversarial
    malformed HTML."""

    @staticmethod
    def _run(parser_cls, html_text, aggressive=False):
        p = parser_cls(aggressive=aggressive)
        try:
            p.feed(html_text)
            p.close()
        except Exception:
            pass
        return ("".join(p.text_parts), p.raw_links, p.base_href, p.meta_nofollow)

    @staticmethod
    def _ref_cls():
        from html.parser import HTMLParser
        from _markupbase import ParserBase

        from atra_spark.functions.extract import _PageParser

        class _RefParser(_PageParser):
            updatepos = ParserBase.updatepos
            parse_starttag = HTMLParser.parse_starttag
            parse_endtag = HTMLParser.parse_endtag

        return _RefParser

    def _assert_equal(self, html_text, aggressive=False):
        from atra_spark.functions.extract import _PageParser

        fast = self._run(_PageParser, html_text, aggressive)
        ref = self._run(self._ref_cls(), html_text, aggressive)
        assert fast == ref

    def test_reference_sample_pages(self):
        import os

        samples = "/root/reference/atra/testdata/samples"
        if not os.path.isdir(samples):
            import pytest

            pytest.skip("reference samples not available")
        for name in sorted(os.listdir(samples)):
            if not name.endswith(".html"):
                continue
            with open(os.path.join(samples, name), "rb") as f:
                text = f.read().decode("utf-8", "replace")
            self._assert_equal(text)
            self._assert_equal(text, aggressive=True)

    def test_malformed_corpus(self):
        nasty = [
            "<p a=\"x>y\" b='1<2'>in-quote gt</p>text",
            "<a href=foo<bar>txt</a>",
            "<div unclosed",
            "plain < not a tag > more",
            "<p></>bogus</ comment></p>",
            "<script>if (a<b && c>d) { x['</scr'+'ipt>']; }</script>after",
            "<script>var s='</style>';</script>tail",
            "<style>a>b{color:red}</style>t",
            "<SCRIPT SRC=x>code</SCRIPT>",
            "<a href='&amp;x=1&notareal;'>e&#65;nt</a>",
            "<p foo bar=>empty</p>",
            "<p foo==bar>double</p>",
            "<p\tfoo\n=\r'v'>ws</p>",
            "<!-- comment <a href=x> -->visible",
            "<!-- unterminated comment <p>",
            "<![CDATA[ raw <a href=x> ]]>",
            "<!DOCTYPE html><?php echo '<a>'; ?>t",
            "<br/><img/><a href=x/>y</a>",
            "<a/href=x>weird</a>",
            "<a href=\"x\"/>selfclose",
            "<base href='/b/'><a href=rel>r</a>",
            "<meta name=ROBOTS content='NOFOLLOW'><a href=x>d</a>",
            "<p 'quoted'=v>odd attr</p>",
            "<p a=ÿ b=ł>unicode vals</p>",
            "<étag>not ascii start</étag>",
            "<p></p" ,
            "<a href='unterminated>t",
            "text &#x48;&#101;llo &unknown; &gt <p>tail&",
            "<div><span>deep</span crud></div>",
            "<td nowrap>old school</td>",
            "<input value=a=b>ambig</input>",
        ]
        for frag in nasty:
            self._assert_equal(frag)
            self._assert_equal(frag, aggressive=True)

    def test_randomized_fuzz(self):
        import random

        rng = random.Random(20260817)
        atoms = [
            "<a href=", "<a href='", '<a href="', "'", '"', ">", "<", "/>", "</a>",
            "<p>", "</p>", "<script>", "</script>", "<style>", "</style>",
            "text ", "&amp;", "&#65;", "&bogus;", "=", " ", "\n", "x", "<!--",
            "-->", "<!", "<?", "<base href=/b>", "<meta name=robots content=nofollow>",
            "<img src=i>", "</", "\\", "`", "<div class=", "q>", "<A HREF=UP>",
        ]
        for _ in range(400):
            frag = "".join(rng.choice(atoms) for _ in range(rng.randint(1, 40)))
            self._assert_equal(frag)
            self._assert_equal(frag, aggressive=True)


def _raw_detect_scalar(
    text: str, langs: tuple[str, ...] = None
) -> tuple[str | None, float]:
    """Reference Cavnar-Trenkle pass (pure-Python): the equivalence
    oracle for the vectorized ``langdata._raw_detect``, which must
    produce identical (language, confidence) on every input."""
    from atra_spark.functions import langdata as L

    doc = L._trigram_ranks(text[:1024])
    if not doc:
        return None, 0.0
    max_rank = L._PROFILE_TOP
    worst = len(doc) * max_rank
    best_lang, best_dist = None, None
    for lang in langs or L._PROFILED_LANGS:
        prof = L._PROFILES[lang]
        d = sum(abs(prof.get(g, max_rank) - r) for g, r in doc.items())
        if best_dist is None or d < best_dist or (d == best_dist and lang < best_lang):
            best_lang, best_dist = lang, d
    return best_lang, (1.0 - (best_dist / worst) if worst else 0.0)


class TestLangIdVectorizedEquivalence:
    """The numpy fast paths (script-count table, group rank-matrix
    distance) must be EXACTLY equivalent to the scalar reference
    implementations they replaced — detect_lang runs per document in
    the extraction hot loop, so the fast path is the production path
    and the scalar is the oracle."""

    def _texts(self):
        import random

        t = (list(TestLangIdWidening.HELD_OUT.values())
             + list(TestLangIdWidening.HELD_OUT_R4.values())
             + list(TestLangIdWidening.HELD_OUT_R4B.values()))
        rng = random.Random(1234)
        for _ in range(100):
            t.append("".join(chr(rng.randrange(32, 0x2FFFF))
                             for _ in range(rng.randrange(0, 250))))
        return t

    def test_script_counts_match_scalar(self):
        from atra_spark.functions import langdata as L

        for text in self._texts():
            w = text[:1024]
            want: dict[str, int] = {}
            for ch in w:
                s = L._script_of(ch)
                if s:
                    want[s] = want.get(s, 0) + 1
            got, total = L._script_counts(w)
            assert got == want and total == sum(want.values()), w[:40]

    def test_trigram_rank_codes_match_counter(self):
        # the int64-coded numpy trigram ranking (round 6) must list the
        # SAME grams in the SAME most_common order as the Counter dict
        # version — including the count-tie first-occurrence tie-break
        from atra_spark.functions import langdata as L

        for text in self._texts():
            w = text[:1024]
            ref = [L._gram_code(g) for g in L._trigram_ranks(w)]
            got = L._trigram_rank_codes(w).tolist()
            assert ref == got, (w[:40], ref[:5], got[:5])

    def test_raw_detect_matches_scalar(self):
        from atra_spark.functions import langdata as L

        groups = (None, L._LATIN_LANGS, L._CYRILLIC_LANGS,
                  L._ARABIC_LANGS, L._DEVANAGARI_LANGS, L._HEBREW_LANGS)
        for text in self._texts():
            for g in groups:
                fast = L._raw_detect(text, g)
                ref = _raw_detect_scalar(text, g)
                assert fast[0] == ref[0], (text[:40], fast, ref)
                assert abs(fast[1] - ref[1]) < 1e-12, (text[:40], fast, ref)

    def test_lone_surrogate_document(self):
        from atra_spark.functions.langdata import detect_lang

        # lossily-decoded web text can carry lone surrogates; the
        # utf-32 fast path must fall back, not raise
        got, conf = detect_lang("the page and the data \udbf9 of it")
        assert got == "eng"


class TestAnchorPairs:
    def test_basic_and_dedup_rules(self):
        from atra_spark.functions.extract import extract_anchor_pairs

        html = (
            '<html><body>'
            '<a href="https://x.example/a.html">first &amp; best</a>'
            '<a href="https://x.example/a.html">dup dropped</a>'
            '<a href="https://x.example/b.html" rel="nofollow">nf</a>'
            '<a href="#frag">self</a>'
            '<a href="data:text/plain;base64,aGk=">data</a>'
            '<area href="https://x.example/c.html">'
            '<a href="/rel.html">relative</a>'
            '</body></html>'
        )
        got = extract_anchor_pairs(html, "https://x.example/page.html")
        assert got == [
            ("https://x.example/a.html", "first & best"),
            ("https://x.example/rel.html", "relative"),
        ]

    def test_unclosed_nested_and_selfclosing(self):
        from atra_spark.functions.extract import extract_anchor_pairs

        html = (
            '<a href="https://x.example/1.html">one <b>bold</b>'
            '<a href="https://x.example/2.html">two</a>'
            '<a href="https://x.example/3.html"/>'
            '<a href="https://x.example/4.html">tail never closed'
        )
        got = dict(extract_anchor_pairs(html, "https://x.example/"))
        assert got["https://x.example/1.html"] == "one bold"  # implicit close at next <a>
        assert got["https://x.example/2.html"] == "two"
        assert got["https://x.example/3.html"] == ""  # self-closing: no content
        assert got["https://x.example/4.html"] == "tail never closed"

    def test_meta_nofollow_page_yields_nothing(self):
        from atra_spark.functions.extract import extract_anchor_pairs

        html = (
            '<meta name="robots" content="nofollow">'
            '<a href="https://x.example/a.html">text</a>'
        )
        assert extract_anchor_pairs(html, "https://x.example/") == []

    def test_capture_off_leaves_extract_html_untouched(self):
        from atra_spark.functions.extract import extract_html

        html = '<a href="https://x.example/a.html">t</a><p>body</p>'
        text, links = extract_html(html, "https://x.example/")
        assert text == "tbody"
        assert links == [("https://x.example/a.html", "onseed", "html_a")]


class TestScriptScoreVectorized:
    """The vectorized _script_score must be bit-identical to the
    pure-Python reference scorer on every input (round 6: the scalar
    loop was ~25% of the extraction kernel)."""

    def test_equivalence_fuzz(self):
        import random

        from atra_spark.functions.extract import (
            _GUESS_CANDIDATES,
            _script_score,
            _script_score_py,
        )

        random.seed(1234)
        pools = [
            list(range(0x20, 0x7F)), list(range(0x80, 0xA0)), [0xFFFD],
            list(range(0xC0, 0x180)), list(range(0x400, 0x500)),
            list(range(0x370, 0x400)), list(range(0x3040, 0x3100)),
            list(range(0x4E00, 0x4E80)), list(range(0x3000, 0x3040)),
            list(range(0xFF00, 0xFFF0)), list(range(0xAC00, 0xAC80)),
            list(range(0x1100, 0x1200)), list(range(0x2500, 0x25A1)),
            list(range(0x2000, 0x2123)),
        ]
        for _ in range(300):
            n = random.randint(0, 256)
            txt = "".join(
                chr(random.choice(random.choice(pools))) for _ in range(n)
            )
            for _enc, expect in _GUESS_CANDIDATES:
                assert _script_score(txt, expect) == _script_score_py(txt, expect)

    def test_codepoints_beyond_table_fall_back(self):
        from atra_spark.functions.extract import _script_score, _script_score_py

        txt = "héllo \U0001F600 wörld"  # astral char: scalar fallback path
        for expect in ("latin", "cyrillic", "greek"):
            assert _script_score(txt, expect) == _script_score_py(txt, expect)

    def test_2048_truncation_boundary(self):
        from atra_spark.functions.extract import _script_score, _script_score_py

        txt = "а" * 2047 + "ЯЯЯЯ"  # lowercase run crossing the cap
        assert _script_score(txt, "cyrillic") == _script_score_py(txt, "cyrillic")
