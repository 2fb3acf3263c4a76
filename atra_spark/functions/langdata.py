"""Language identification: Cavnar-Trenkle character-trigram rank
profiles (the public algorithm family behind whatlang's trigram model,
atra/src/toolkit/language_detection.rs:97-253), plus the marker-word
lists that drive the JVM-side lang_scores operator and the fixture
vocabulary.

Profiles are built at import from embedded per-language sample text
(written for this repo; no external data). Detection ranks the
document's top trigrams against each language profile and picks the
minimum out-of-place distance — deterministic, pure Python, run inside
the Arrow extraction batches. Codes are ISO-639-3 like the reference.
"""

from __future__ import annotations

import re
from collections import Counter

# marker words (function words, pairwise disjoint across languages) —
# used by the fixture generator, the JVM lang_scores operator, and as
# profile vocabulary
MARKERS: dict[str, tuple[str, ...]] = {
    "eng": ("the", "and", "of", "with", "from", "that", "this", "have", "was", "are"),
    "deu": ("der", "und", "nicht", "das", "ist", "ein", "mit", "für", "auf", "sich"),
    "fra": ("le", "les", "est", "une", "dans", "pour", "qui", "pas", "sur", "vous"),
    "spa": ("el", "los", "es", "una", "para", "por", "con", "como", "más", "pero"),
    "ita": ("il", "di", "che", "non", "per", "sono", "anche", "della", "come", "questo"),
    "rus": ("это", "как", "что", "для", "его", "она", "они", "был", "при", "или"),
    "jpn": ("これ", "それ", "です", "ます", "から", "まで", "など", "して", "いる", "ある"),
}

# filler vocabulary per language (content words; overlap allowed — only
# MARKERS drive the fixture construction golden)
FILLER: dict[str, tuple[str, ...]] = {
    "eng": ("crawl", "page", "link", "data", "host", "queue", "table", "value"),
    "deu": ("seite", "daten", "wert", "tabelle", "rechner", "netz", "kette", "zahl"),
    "fra": ("page", "valeur", "table", "chaine", "reseau", "nombre", "texte", "mot"),
    "spa": ("pagina", "valor", "tabla", "cadena", "red", "numero", "texto", "palabra"),
    "ita": ("pagina", "valore", "tavola", "catena", "rete", "numero", "testo", "parola"),
    "rus": ("страница", "данные", "таблица", "ссылка", "число", "сеть", "текст", "слово"),
    "jpn": ("ページ", "データ", "リンク", "テーブル", "ネット", "テキスト", "数値", "言葉"),
}

# per-language sample text for trigram profiles (written for this repo)
_SAMPLES: dict[str, str] = {
    "eng": (
        "the quick survey shows that this page links data from every host "
        "we have seen and the table of values was built with care so that "
        "all of the results are stored with the text and the links that "
        "come from this crawl of the network"
    ),
    "deu": (
        "der rechner speichert die daten und die tabelle ist nicht leer "
        "denn ein netz von seiten wurde mit sorgfalt gebaut und der wert "
        "jeder kette steht auf der seite für sich damit das ergebnis "
        "nicht verloren geht und sich die zahl der seiten erhöht"
    ),
    "fra": (
        "le réseau garde les pages et la table est pleine de valeurs car "
        "une chaine de textes a été construite pour que les mots restent "
        "dans le nombre et que vous puissiez voir qui a mis le texte sur "
        "la page sans que les valeurs ne soient pas perdues"
    ),
    "spa": (
        "el sistema guarda los datos y la tabla es una red de paginas con "
        "valores para que el numero de palabras quede como texto y no se "
        "pierda pero los enlaces siguen en la cadena por si el valor de "
        "una pagina cambia más tarde con el texto"
    ),
    "ita": (
        "il sistema salva i dati e la tavola non è vuota perché una rete "
        "di pagine è stata costruita per questo e anche il numero delle "
        "parole resta come testo della catena che sono i valori di ogni "
        "pagina come questo testo che non si perde"
    ),
    "rus": (
        "это система хранит данные и таблица не пуста потому что сеть "
        "страниц была построена для того чтобы число слов осталось как "
        "текст и ссылка не потерялась при этом они видят что его значение "
        "или она была на странице как текст для всех"
    ),
    "jpn": (
        "これ は システム です データ を テーブル に 保存 します ページ の "
        "ネット から リンク まで テキスト など を 集めて いる 数値 も ある "
        "それ から 言葉 を して 保存 します これ まで の ページ です"
    ),
}

# profile-only languages (round-3 widening toward whatlang's coverage,
# language_detection.rs:97-253): detection knows them, the fixture
# generator does not (LANGS below stays the frozen fixture set).
# Samples are function-word-dense running text written for this repo.
_EXTRA_SAMPLES: dict[str, str] = {
    "por": (
        "o sistema guarda os dados e a tabela não está vazia porque uma "
        "rede de páginas foi construída com cuidado para que o número de "
        "palavras fique como texto e não se perca mas as ligações ficam "
        "na cadeia se o valor de uma página mudar mais tarde e você pode "
        "ver quem colocou o texto na página sem que os valores sejam "
        "perdidos pois isso é o que importa quando tudo está guardado"
    ),
    "nld": (
        "het systeem bewaart de gegevens en de tabel is niet leeg omdat "
        "een netwerk van pagina's met zorg werd gebouwd zodat het aantal "
        "woorden als tekst blijft en niet verloren gaat maar de links "
        "blijven in de keten als de waarde van een pagina later verandert "
        "en je kunt zien wie de tekst op de pagina heeft gezet zonder dat "
        "de waarden verloren gaan want dat is wat telt"
    ),
    "pol": (
        "system przechowuje dane a tabela nie jest pusta ponieważ sieć "
        "stron została zbudowana starannie żeby liczba słów pozostała "
        "jako tekst i nie zginęła ale łącza zostają w łańcuchu jeśli "
        "wartość strony zmieni się później i można zobaczyć kto umieścił "
        "tekst na stronie bez utraty wartości bo to jest właśnie to co "
        "się liczy kiedy wszystko jest zapisane"
    ),
    "tur": (
        "sistem verileri saklar ve tablo boş değildir çünkü sayfalardan "
        "oluşan bir ağ özenle kuruldu böylece kelime sayısı metin olarak "
        "kalır ve kaybolmaz ama bağlantılar zincirde kalır eğer bir "
        "sayfanın değeri daha sonra değişirse ve metni sayfaya kimin "
        "koyduğunu değerler kaybolmadan görebilirsiniz çünkü her şey "
        "saklandığında önemli olan budur"
    ),
    "ces": (
        "systém ukládá data a tabulka není prázdná protože síť stránek "
        "byla pečlivě postavena aby počet slov zůstal jako text a "
        "neztratil se ale odkazy zůstávají v řetězu pokud se hodnota "
        "stránky později změní a můžete vidět kdo umístil text na "
        "stránku aniž by se hodnoty ztratily protože právě to se počítá "
        "když je všechno uloženo"
    ),
    "swe": (
        "systemet sparar uppgifterna och tabellen är inte tom eftersom "
        "ett nätverk av sidor byggdes med omsorg så att antalet ord "
        "stannar som text och inte går förlorat men länkarna stannar i "
        "kedjan om värdet på en sida ändras senare och du kan se vem som "
        "satte texten på sidan utan att värdena går förlorade för det är "
        "vad som räknas när allting är sparat"
    ),
    "dan": (
        "systemet gemmer oplysningerne og tabellen er ikke tom fordi et "
        "netværk af sider blev bygget med omhu således at antallet af "
        "ord bliver som tekst og ikke går tabt men henvisningerne bliver "
        "i kæden hvis værdien af en side ændres senere og du kan se hvem "
        "der satte teksten på siden uden at værdierne går tabt for det "
        "er hvad der tæller når alting er gemt"
    ),
    "ron": (
        "sistemul păstrează datele și tabelul nu este gol pentru că o "
        "rețea de pagini a fost construită cu grijă astfel încât numărul "
        "de cuvinte să rămână ca text și să nu se piardă dar legăturile "
        "rămân în lanț dacă valoarea unei pagini se schimbă mai târziu "
        "și puteți vedea cine a pus textul pe pagină fără ca valorile să "
        "se piardă pentru că asta contează când totul este păstrat"
    ),
    "fin": (
        "järjestelmä tallentaa tiedot ja taulukko ei ole tyhjä koska "
        "sivujen verkko rakennettiin huolella jotta sanojen määrä pysyy "
        "tekstinä eikä katoa mutta linkit pysyvät ketjussa jos sivun "
        "arvo muuttuu myöhemmin ja voit nähdä kuka laittoi tekstin "
        "sivulle ilman että arvot katoavat koska sillä on merkitystä "
        "kun kaikki on tallennettu"
    ),
    "hun": (
        "a rendszer megőrzi az adatokat és a táblázat nem üres mert az "
        "oldalak hálózata gondosan épült hogy a szavak száma szövegként "
        "maradjon és ne vesszen el de a hivatkozások a láncban maradnak "
        "ha egy oldal értéke később megváltozik és láthatod ki tette a "
        "szöveget az oldalra anélkül hogy az értékek elvesznének mert ez "
        "számít amikor minden el van mentve"
    ),
    "ukr": (
        "ця система зберігає дані і таблиця не порожня тому що мережа "
        "сторінок була побудована дбайливо щоб кількість слів залишилася "
        "як текст і не загубилася але посилання залишаються в ланцюзі "
        "якщо значення сторінки зміниться пізніше і ви можете побачити "
        "хто поклав текст на сторінку без втрати значень бо саме це має "
        "значення коли все збережено"
    ),
    "ell": (
        "το σύστημα φυλάει τα δεδομένα και ο πίνακας δεν είναι άδειος "
        "γιατί ένα δίκτυο σελίδων χτίστηκε με προσοχή ώστε ο αριθμός των "
        "λέξεων να μείνει ως κείμενο και να μη χαθεί αλλά οι σύνδεσμοι "
        "μένουν στην αλυσίδα αν η αξία μιας σελίδας αλλάξει αργότερα και "
        "μπορείτε να δείτε ποιος έβαλε το κείμενο στη σελίδα χωρίς να "
        "χαθούν οι αξίες γιατί αυτό μετράει όταν όλα είναι φυλαγμένα"
    ),
    "kor": (
        "이 시스템 은 데이터 를 저장 하고 테이블 은 비어 있지 않습니다 "
        "왜냐하면 페이지 의 네트워크 가 신중하게 만들어져서 단어 의 수가 "
        "텍스트 로 남고 사라지지 않기 때문입니다 그러나 링크 는 체인 에 "
        "남아 있으며 페이지 의 값 이 나중에 바뀌면 누가 텍스트 를 페이지 "
        "에 넣었는지 값 을 잃지 않고 볼 수 있습니다"
    ),
    "ara": (
        "هذا النظام يحفظ البيانات والجدول ليس فارغا لأن شبكة من الصفحات "
        "بنيت بعناية حتى يبقى عدد الكلمات كنص ولا يضيع لكن الروابط تبقى "
        "في السلسلة إذا تغيرت قيمة صفحة لاحقا ويمكنك أن ترى من وضع النص "
        "على الصفحة دون أن تضيع القيم لأن هذا هو ما يهم عندما يكون كل "
        "شيء محفوظا"
    ),
    "heb": (
        "המערכת שומרת את הנתונים והטבלה אינה ריקה כי רשת של דפים נבנתה "
        "בזהירות כדי שמספר המילים יישאר כטקסט ולא יאבד אבל הקישורים "
        "נשארים בשרשרת אם הערך של דף משתנה מאוחר יותר ואתה יכול לראות "
        "מי שם את הטקסט על הדף מבלי שהערכים יאבדו כי זה מה שחשוב כאשר "
        "הכל שמור"
    ),
    "fas": (
        "این سامانه داده ها را نگه می دارد و جدول خالی نیست زیرا شبکه ای "
        "از صفحه ها با دقت ساخته شد تا شمار واژه ها به صورت متن بماند و "
        "گم نشود اما پیوندها در زنجیره می مانند اگر ارزش یک صفحه بعدا "
        "تغییر کند و می توانید ببینید چه کسی متن را روی صفحه گذاشت بدون "
        "اینکه ارزش ها از دست بروند زیرا این همان چیزی است که اهمیت دارد"
    ),
    "hin": (
        "यह प्रणाली आंकड़ों को सुरक्षित रखती है और तालिका खाली नहीं है "
        "क्योंकि पृष्ठों का जाल सावधानी से बनाया गया ताकि शब्दों की संख्या "
        "पाठ के रूप में बनी रहे और खो न जाए लेकिन कड़ियाँ श्रृंखला में "
        "रहती हैं यदि किसी पृष्ठ का मूल्य बाद में बदल जाए और आप देख सकते "
        "हैं कि किसने पाठ को पृष्ठ पर रखा बिना मूल्यों के खोए"
    ),
    "tha": (
        "ระบบนี้เก็บข้อมูลและตารางไม่ว่างเปล่าเพราะเครือข่ายของหน้าถูกสร้าง"
        "อย่างระมัดระวังเพื่อให้จำนวนคำยังคงเป็นข้อความและไม่สูญหายแต่ลิงก์"
        "ยังอยู่ในห่วงโซ่ถ้าค่าของหน้าเปลี่ยนภายหลังและคุณสามารถเห็นว่าใคร"
        "วางข้อความบนหน้าโดยไม่สูญเสียค่าเพราะนี่คือสิ่งที่สำคัญ"
    ),
    "vie": (
        "hệ thống này lưu giữ dữ liệu và bảng không trống vì một mạng "
        "lưới các trang được xây dựng cẩn thận để số lượng từ vẫn còn là "
        "văn bản và không bị mất nhưng các liên kết vẫn ở trong chuỗi "
        "nếu giá trị của một trang thay đổi sau này và bạn có thể thấy "
        "ai đã đặt văn bản lên trang mà không mất các giá trị vì đó là "
        "điều quan trọng khi mọi thứ được lưu giữ"
    ),
    "ind": (
        "sistem ini menyimpan data dan tabel tidak kosong karena "
        "jaringan halaman dibangun dengan hati hati supaya jumlah kata "
        "tetap sebagai teks dan tidak hilang tetapi tautan tetap dalam "
        "rantai jika nilai sebuah halaman berubah kemudian dan anda "
        "dapat melihat siapa yang meletakkan teks pada halaman tanpa "
        "kehilangan nilai karena itulah yang penting ketika semuanya "
        "tersimpan"
    ),
    "zho": (
        "这个系统保存数据而且表格不是空的因为页面的网络被仔细地建立起来"
        "使得词的数量作为文本保留下来而不会丢失但是链接留在链条里如果"
        "一个页面的值后来改变了你可以看到谁把文本放在页面上而值不会丢失"
        "因为当一切都被保存时这才是重要的"
    ),
    "bul": (
        "тази система пази данните и таблицата не е празна защото мрежа "
        "от страници беше изградена внимателно така че броят на думите "
        "да остане като текст и да не се изгуби но връзките остават във "
        "веригата ако стойността на една страница се промени по-късно и "
        "можете да видите кой е сложил текста на страницата без да се "
        "изгубят стойностите защото това е важното когато всичко е "
        "запазено"
    ),
    "nor": (
        "systemet lagrer opplysningene og tabellen er ikke tom fordi et "
        "nettverk av sider ble bygget med omhu slik at antallet ord blir "
        "værende som tekst og ikke går tapt men lenkene blir i kjeden "
        "hvis verdien av en side endres senere og du kan se hvem som "
        "satte teksten på siden uten at verdiene går tapt for det er det "
        "som teller når alt er lagret"
    ),
    # ---- round-4 tranche (10 more; hard pairs: cat/spa/por, hrv/slv,
    # slk/ces, est/fin, afr/nld, srp/bul/rus) ----
    "cat": (
        "el sistema desa les dades i la taula no és buida perquè una "
        "xarxa de pàgines s'ha construït amb cura perquè el nombre de "
        "paraules quedi com a text i no es perdi però els enllaços "
        "continuen a la cadena per si el valor d'una pàgina canvia més "
        "tard i podeu veure qui ha posat el text a la pàgina sense que "
        "es perdin els valors perquè això és el que compta"
    ),
    "hrv": (
        "sustav čuva podatke i tablica nije prazna jer je mreža "
        "stranica pažljivo izgrađena kako bi broj riječi ostao kao "
        "tekst i ne bi se izgubio ali veze ostaju u lancu ako se "
        "vrijednost stranice kasnije promijeni i možete vidjeti tko je "
        "stavio tekst na stranicu bez gubitka vrijednosti jer je to ono "
        "što se računa kada je sve spremljeno"
    ),
    "srp": (
        "систем чува податке и табела није празна јер је мрежа "
        "страница пажљиво изграђена како би број речи остао као текст "
        "и не би се изгубио али везе остају у ланцу ако се вредност "
        "странице касније промени и можете видети ко је ставио текст "
        "на страницу без губитка вредности јер је то оно што се рачуна "
        "када је све сачувано"
    ),
    "slk": (
        "systém uchováva údaje a tabuľka nie je prázdna pretože sieť "
        "stránok bola postavená starostlivo aby počet slov zostal ako "
        "text a nestratil sa ale odkazy zostávajú v reťazci ak sa "
        "hodnota stránky neskôr zmení a môžete vidieť kto dal text na "
        "stránku bez straty hodnôt lebo to je to čo sa počíta keď je "
        "všetko uložené"
    ),
    "slv": (
        "sistem shranjuje podatke in tabela ni prazna ker je bila "
        "mreža strani skrbno zgrajena da število besed ostane kot "
        "besedilo in se ne izgubi vendar povezave ostanejo v verigi če "
        "se vrednost strani pozneje spremeni in lahko vidite kdo je "
        "dal besedilo na stran brez izgube vrednosti ker je to tisto "
        "kar šteje ko je vse shranjeno"
    ),
    "lit": (
        "sistema saugo duomenis ir lentelė nėra tuščia nes puslapių "
        "tinklas buvo kruopščiai sukurtas kad žodžių skaičius liktų "
        "kaip tekstas ir nepražūtų bet nuorodos lieka grandinėje jei "
        "puslapio vertė vėliau pasikeis ir galite matyti kas įdėjo "
        "tekstą į puslapį neprarandant verčių nes tai yra tai kas "
        "svarbu kai viskas išsaugota"
    ),
    "lav": (
        "sistēma glabā datus un tabula nav tukša jo lapu tīkls tika "
        "rūpīgi izveidots lai vārdu skaits paliktu kā teksts un "
        "nepazustu bet saites paliek ķēdē ja lapas vērtība vēlāk "
        "mainās un jūs varat redzēt kas ielika tekstu lapā nezaudējot "
        "vērtības jo tas ir tas kas ir svarīgi kad viss ir saglabāts"
    ),
    "est": (
        "süsteem salvestab andmed ja tabel ei ole tühi sest lehtede "
        "võrk ehitati hoolikalt et sõnade arv jääks tekstina alles ja "
        "ei kaoks aga lingid jäävad ketti kui lehe väärtus hiljem "
        "muutub ja te näete kes pani teksti lehele ilma väärtusi "
        "kaotamata sest see on see mis loeb kui kõik on salvestatud"
    ),
    "afr": (
        "die stelsel stoor die data en die tabel is nie leeg nie want "
        "'n netwerk van bladsye is met sorg gebou sodat die aantal "
        "woorde as teks bly en nie verlore gaan nie maar die skakels "
        "bly in die ketting as die waarde van 'n bladsy later verander "
        "en jy kan sien wie die teks op die bladsy gesit het sonder om "
        "waardes te verloor want dit is wat tel as alles gestoor is"
    ),
    "tgl": (
        "ang sistema ay nag-iimbak ng mga datos at ang talahanayan ay "
        "hindi walang laman dahil ang network ng mga pahina ay maingat "
        "na itinayo upang ang bilang ng mga salita ay manatili bilang "
        "teksto at hindi mawala ngunit ang mga link ay nananatili sa "
        "kadena kung ang halaga ng pahina ay magbago mamaya at makikita "
        "mo kung sino ang naglagay ng teksto sa pahina"
    ),
    # round-4b tranche: shared-script group members (Devanagari,
    # Hebrew, Cyrillic, Arabic, Latin additions toward whatlang's
    # coverage). Function-word-dense running text written for this
    # repo — the trigram pass must separate each from its own script
    # group (hin/mar/nep, heb/yid, bel/mkd vs rus/ukr/bul/srp,
    # urd vs ara/fas, epo/aze/uzb/lat vs the Latin set).
    "mar": (
        "प्रणाली माहिती साठवते आणि सारणी रिकामी नाही कारण पृष्ठांचे जाळे "
        "काळजीपूर्वक बांधले गेले आहे जेणेकरून शब्दांची संख्या मजकूर म्हणून "
        "राहील आणि हरवणार नाही पण दुवे साखळीत राहतात जर एखाद्या पृष्ठाचे "
        "मूल्य नंतर बदलले तर आणि तुम्ही पाहू शकता की कोणी मजकूर पृष्ठावर "
        "ठेवला आहे आणि मूल्ये हरवली नाहीत हे महत्त्वाचे आहे"
    ),
    "nep": (
        "प्रणालीले तथ्याङ्क राख्छ र तालिका खाली छैन किनभने पृष्ठहरूको "
        "सञ्जाल होसियारीसाथ बनाइएको छ ताकि शब्दहरूको सङ्ख्या पाठका रूपमा "
        "रहोस् र नहराओस् तर लिङ्कहरू शृङ्खलामा रहन्छन् यदि कुनै पृष्ठको "
        "मान पछि बदलियो भने र तपाईंले देख्न सक्नुहुन्छ कि कसले पाठलाई "
        "पृष्ठमा राखेको छ र मानहरू हराएका छैनन्"
    ),
    "yid": (
        "די סיסטעם האלט די דאטן און די טאבעלע איז נישט ליידיק ווייל א נעץ "
        "פון זייטן איז געבויט געווארן מיט זארג אזוי אז די צאל פון ווערטער "
        "זאל בלייבן ווי טעקסט און זיך נישט פארלירן אבער די לינקס בלייבן אין "
        "דער קייט אויב דער ווערט פון א זייט בייט זיך שפעטער און איר קענט "
        "זען ווער עס האט דעם טעקסט געשטעלט אויף דער זייט"
    ),
    "bel": (
        "сістэма захоўвае дадзеныя і табліца не пустая бо сетка старонак "
        "была пабудавана старанна каб колькасць слоў засталася як тэкст і "
        "не згубілася але спасылкі застаюцца ў ланцугу калі значэнне "
        "старонкі зменіцца пазней і вы можаце ўбачыць хто паставіў тэкст "
        "на старонку без таго каб значэнні былі страчаны"
    ),
    "mkd": (
        "системот ги чува податоците и табелата не е празна бидејќи "
        "мрежата на страници беше изградена внимателно за бројот на "
        "зборовите да остане како текст и да не се изгуби но врските "
        "остануваат во синџирот ако вредноста на страницата се промени "
        "подоцна и можете да видите кој го ставил текстот на страницата"
    ),
    "urd": (
        "نظام ڈیٹا رکھتا ہے اور جدول خالی نہیں ہے کیونکہ صفحات کا جال "
        "احتیاط سے بنایا گیا ہے تاکہ الفاظ کی تعداد متن کے طور پر رہے اور "
        "کھو نہ جائے لیکن روابط زنجیر میں رہتے ہیں اگر کسی صفحے کی قیمت "
        "بعد میں بدل جائے اور آپ دیکھ سکتے ہیں کہ کس نے متن کو صفحے پر "
        "رکھا ہے اور قیمتیں کھوئی نہیں ہیں"
    ),
    "epo": (
        "la sistemo konservas la datumojn kaj la tabelo ne estas malplena "
        "ĉar reto de paĝoj estis konstruita kun zorgo tiel ke la nombro "
        "de vortoj restu kiel teksto kaj ne perdiĝu sed la ligiloj restas "
        "en la ĉeno se la valoro de paĝo ŝanĝiĝos poste kaj vi povas vidi "
        "kiu metis la tekston sur la paĝon sen ke la valoroj perdiĝu"
    ),
    "aze": (
        "sistem məlumatları saxlayır və cədvəl boş deyil çünki "
        "səhifələrdən ibarət şəbəkə diqqətlə qurulub ki sözlərin sayı "
        "mətn kimi qalsın və itməsin amma keçidlər zəncirdə qalır əgər "
        "bir səhifənin dəyəri sonra dəyişsə və siz görə bilərsiniz ki "
        "mətni səhifəyə kim qoyub və dəyərlər itməyib"
    ),
    "uzb": (
        "tizim ma'lumotlarni saqlaydi va jadval bo'sh emas chunki "
        "sahifalar tarmog'i ehtiyotkorlik bilan qurilgan shunda so'zlar "
        "soni matn sifatida qoladi va yo'qolmaydi lekin havolalar "
        "zanjirda qoladi agar sahifaning qiymati keyinroq o'zgarsa va "
        "siz matnni sahifaga kim qo'yganini ko'rishingiz mumkin"
    ),
    "lat": (
        "systema data servat et tabula vacua non est quia rete paginarum "
        "cum cura aedificatum est ut numerus verborum sicut textus maneat "
        "neque pereat sed vincula in catena manent si valor paginae "
        "postea mutabitur et videre potes quis textum in pagina posuerit "
        "neque valores perditi sunt quod maximi momenti est"
    ),
    # round-5 tail: the last five whatlang languages — Latin-script,
    # trigram-disambiguated against their hard neighbours (jav/ind,
    # tuk/tur/aze/uzb, zul/sna)
    "jav": (
        "sistem iki nyimpen data lan tabel ora kosong amarga jaringan "
        "kaca wis dibangun kanthi ati ati supaya cacahe tembung tetep "
        "dadi teks lan ora ilang nanging pranala tetep ana ing rante "
        "yen ajine sawijining kaca owah mengko lan sampeyan bisa ndeleng "
        "sapa sing nyelehake teks ing kaca tanpa ajine ilang amarga iku "
        "sing penting nalika kabeh wis kasimpen"
    ),
    "tuk": (
        "ulgam maglumatlary saklaýar we tablisa boş däl sebäbi "
        "sahypalaryň tory üns bilen guruldy şonuň üçin sözleriň sany "
        "tekst bolup galýar we ýitmeýär emma baglanyşyklar zynjyrda "
        "galýar eger sahypanyň bahasy soňra üýtgese we tekstiň sahypa "
        "kimiň goýandygyny bahalar ýitmezden görüp bilersiňiz sebäbi "
        "ähli zat saklananda şu zat möhümdir"
    ),
    "aka": (
        "nhyehyɛe no kora nsɛm no so na pon no nyɛ hunu ɛfiri sɛ wɔde "
        "ahwɛyie na ɛyɛɛ nkrataafa ntam nkitahodie sɛdeɛ nsɛmfua dodoɔ "
        "no bɛtena hɔ sɛ atwerɛdeɛ na ɛrenyera nanso nkitahodie no tena "
        "nkɔnsɔnkɔnsɔn no mu sɛ krataafa bi boɔ sesa akyire yi a na "
        "wobɛtumi ahunu onipa a ɔde atwerɛdeɛ no too krataafa no so a "
        "boɔ no nnyera ɛfiri sɛ ɛno ne deɛ ɛho hia berɛ a wɔakora "
        "biribiara"
    ),
    "zul": (
        "uhlelo lugcina imininingwane futhi ithebula alilona ize ngoba "
        "inethiwekhi yamakhasi yakhiwa ngokucophelela ukuze isibalo "
        "samagama sihlale njengombhalo singalahleki kodwa izixhumanisi "
        "zihlala ochungechungeni uma inani lekhasi lishintsha kamuva "
        "futhi ungabona ukuthi ubani obeke umbhalo ekhasini ngaphandle "
        "kokuthi amanani alahleke ngoba yilokho okubalulekile lapho "
        "konke kugciniwe"
    ),
    "sna": (
        "urongwa hunochengeta ruzivo uye tafura haina kushaya chinhu "
        "nokuti mambure emapeji akavakwa nokungwarira kuitira kuti "
        "huwandu hwemazwi hugare seshoko uye husarasika asi zvisungo "
        "zvinogara mucheni kana kukosha kwepeji kukachinja gare gare "
        "uye unogona kuona kuti ndiani akaisa mazwi papeji pasina "
        "kurasika kwekukosha nokuti ndizvo zvinokosha kana zvese "
        "zvachengetwa"
    ),
}

# round-4b: script-unique languages (whatlang coverage,
# language_detection.rs:97-253) — identified by their script alone,
# confidence = script purity; no trigram profile is needed or built.
_SCRIPT_ONLY_LANGS = (
    "amh", "ben", "guj", "hye", "kan", "kat", "khm", "mal", "mya",
    "ori", "pan", "sin", "tam", "tel",
)

LANGS = tuple(MARKERS)  # frozen fixture set (generator + JVM markers)
# full detection coverage: fixture langs + trigram-profiled extras +
# script-unique langs (no profile — script IS the classifier)
DETECT_LANGS = LANGS + tuple(_EXTRA_SAMPLES) + _SCRIPT_ONLY_LANGS
_PROFILED_LANGS = LANGS + tuple(_EXTRA_SAMPLES)
UND = "und"

_PROFILE_TOP = 300
_WORD_CLEAN_RE = re.compile(r"[^\w\s]", re.UNICODE)
_WS_RE = re.compile(r"\s+")

_MARKER_INDEX: dict[str, str] = {}
for _lang, _words in MARKERS.items():
    for _w in _words:
        _MARKER_INDEX[_w] = _lang


def _trigram_ranks(text: str, top: int = _PROFILE_TOP) -> dict[str, int]:
    """Rank map of the ``top`` most frequent char trigrams (padded,
    punctuation stripped, whitespace collapsed). Counter ties break by
    first occurrence — deterministic for identical input."""
    t = " ".join(_WORD_CLEAN_RE.sub("", text.lower()).split())
    t = f" {t} "
    if len(t) < 3:
        return {}
    grams = Counter([t[i : i + 3] for i in range(len(t) - 2)])
    return {g: r for r, (g, _c) in enumerate(grams.most_common(top))}


def _profile_corpus(lang: str) -> str:
    if lang in _SAMPLES:
        return " ".join(
            (_SAMPLES[lang],)
            + MARKERS[lang] * 3  # function words dominate real rank profiles
            + FILLER[lang] * 2
        )
    return _EXTRA_SAMPLES[lang]


def _build_profiles() -> dict[str, dict[str, int]]:
    return {lang: _trigram_ranks(_profile_corpus(lang)) for lang in _PROFILED_LANGS}


_PROFILES = _build_profiles()


def _gram_code(g: str) -> int:
    """Bijective int64 code for a 3-char gram: 21 bits per codepoint
    (max codepoint 0x10FFFF < 2^21), so distinct grams get distinct
    codes and gram identity is preserved across the encoding."""
    a, b, c = (ord(ch) for ch in g)
    return (a << 42) | (b << 21) | c


def _trigram_rank_codes(text: str, top: int = _PROFILE_TOP):
    """Vectorized twin of :func:`_trigram_ranks`: the top trigram
    CODES (see ``_gram_code``) in ``Counter.most_common`` order — the
    array index IS the rank. Count ties break by first occurrence
    (``np.unique``'s first-occurrence index under a stable lexsort),
    exactly the stable-sort insertion-order tie-break of the dict
    version; equivalence is pinned by
    tests/test_extract.py::TestLangIdVectorizedEquivalence."""
    import numpy as np

    t = " ".join(_WORD_CLEAN_RE.sub("", text.lower()).split())
    t = f" {t} "
    if len(t) < 3:
        return np.empty(0, dtype=np.int64)
    try:
        cp = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    except UnicodeEncodeError:
        # lone surrogates (lossily-decoded web text) can't round-trip
        # utf-32; fall back to per-char ord for this doc
        cp = np.fromiter(map(ord, t), dtype=np.int64, count=len(t))
    codes = (cp[:-2] << 42) | (cp[1:-1] << 21) | cp[2:]
    uniq, first, counts = np.unique(codes, return_index=True, return_counts=True)
    order = np.lexsort((first, -counts))[:top]
    return uniq[order]


# per-group (sorted gram codes, rank-matrix) cache for the vectorized
# distance: M[i, j] is group[i]'s rank for the j-th smallest vocab gram
# code (PROFILE_TOP when absent, exactly prof.get(g, max_rank)) —
# sorted-code column order makes the doc-side vocab lookup ONE
# np.searchsorted instead of a per-gram Python dict probe
_GROUP_MATRICES: dict[tuple[str, ...], tuple["np.ndarray", "np.ndarray"]] = {}


def _group_matrix(group: tuple[str, ...]):
    got = _GROUP_MATRICES.get(group)
    if got is None:
        import numpy as np

        vocab: dict[int, int] = {}
        for lang in group:
            for g in _PROFILES[lang]:
                cg = _gram_code(g)
                if cg not in vocab:
                    vocab[cg] = len(vocab)
        codes = np.fromiter(vocab.keys(), dtype=np.int64, count=len(vocab))
        sort_ix = np.argsort(codes)
        M = np.full((len(group), len(vocab)), _PROFILE_TOP, dtype=np.int32)
        for i, lang in enumerate(group):
            for g, r in _PROFILES[lang].items():
                M[i, vocab[_gram_code(g)]] = r
        got = (codes[sort_ix], M[:, sort_ix])
        _GROUP_MATRICES[group] = got
    return got


def _raw_detect(text: str, langs: tuple[str, ...] = None) -> tuple[str | None, float]:
    """Cavnar-Trenkle pass over ``langs`` (default: all profiled):
    (best language, raw out-of-place confidence in [0, 1]).

    Vectorized end to end: doc trigrams are extracted, counted and
    rank-ordered as int64 codes (``_trigram_rank_codes`` — no Python
    string slicing or Counter in the hot loop), the profile-vocab
    lookup is one ``np.searchsorted`` against the group's sorted code
    array, and the per-language out-of-place distance
    sum(|prof.get(g, TOP) - r|) is one |M[:, cols] - ranks| row sum.
    This runs per document inside the extraction hot loop, where the
    scalar fold was 40% of total extraction CPU. Exactly equivalent to
    the scalar reference pass in tests/test_extract.py (gram<->code
    mapping is bijective; doc grams unseen by every profile contribute
    TOP - r to all languages alike; distance ties break to the
    lexicographically smallest language, as the scalar
    `lang < best_lang` does)."""
    import numpy as np

    codes = _trigram_rank_codes(text[:1024])
    n = len(codes)
    if n == 0:
        return None, 0.0
    group = tuple(langs) if langs else _PROFILED_LANGS
    sorted_codes, M = _group_matrix(group)
    max_rank = _PROFILE_TOP
    worst = n * max_rank
    ranks = np.arange(n, dtype=np.int64)
    pos = np.searchsorted(sorted_codes, codes)
    pos_c = np.minimum(pos, len(sorted_codes) - 1)
    known = sorted_codes[pos_c] == codes
    # doc rank r < TOP always, so |TOP - r| == TOP - r
    oov = int((max_rank - ranks[~known]).sum())
    d = np.abs(M[:, pos_c[known]] - ranks[known]).sum(axis=1) + oov
    m = int(d.min())
    best_lang = min(group[i] for i in np.nonzero(d == m)[0])
    return best_lang, (1.0 - (m / worst) if worst else 0.0)


# ---------------------------------------------------------------------------
# script-first detection (whatlang's own architecture,
# language_detection.rs: script detect -> per-script language set).
# Calibration rationale: ideographic scripts have near-unique
# per-character trigrams, so tiny rank profiles CANNOT generalize to
# novel text — raw trigram confidence for zho/jpn/kor was structurally
# floored (~0.05) even on perfect matches (the round-3 "ideographic
# floor"). Script evidence is the right confidence carrier there: a
# document that is 98% Han IS Chinese with confidence 0.98. Trigram
# distance only disambiguates WITHIN a script group, where profiles do
# generalize (shared function-word trigrams) — so one threshold now
# means the same thing in every script.
# ---------------------------------------------------------------------------
_CYRILLIC_LANGS = ("bel", "bul", "mkd", "rus", "srp", "ukr")
_ARABIC_LANGS = ("ara", "fas", "urd")
_DEVANAGARI_LANGS = ("hin", "mar", "nep")
_HEBREW_LANGS = ("heb", "yid")
_SCRIPT_UNIQUE = {
    "hangul": "kor", "thai": "tha", "greek": "ell",
    # round-4b script-unique tranche: one modern web language per
    # script (whatlang's own mapping for these scripts)
    "armenian": "hye", "georgian": "kat", "bengali": "ben",
    "gurmukhi": "pan", "gujarati": "guj", "oriya": "ori",
    "tamil": "tam", "telugu": "tel", "kannada": "kan",
    "malayalam": "mal", "sinhala": "sin", "myanmar": "mya",
    "khmer": "khm", "ethiopic": "amh",
}
# one range list drives BOTH the scalar _script_of and the vectorized
# lookup table below — they cannot diverge. Any alphabetic codepoint
# outside every explicit range counts as Latin (ASCII + extended Latin
# incl. Vietnamese), exactly as the original isalpha() catch-all did.
_SCRIPT_RANGES: tuple[tuple[str, int, int], ...] = (
    ("han", 0x4E00, 0x9FFF), ("han", 0x3400, 0x4DBF), ("han", 0xF900, 0xFAFF),
    ("kana", 0x3040, 0x30FF), ("kana", 0x31F0, 0x31FF),
    ("hangul", 0xAC00, 0xD7AF), ("hangul", 0x1100, 0x11FF),
    ("hangul", 0x3130, 0x318F),
    ("thai", 0x0E00, 0x0E7F),
    ("hebrew", 0x0590, 0x05FF), ("hebrew", 0xFB1D, 0xFB4F),
    ("greek", 0x0370, 0x03FF), ("greek", 0x1F00, 0x1FFF),
    ("arabic", 0x0600, 0x06FF), ("arabic", 0x0750, 0x077F),
    ("arabic", 0xFB50, 0xFDFF),
    ("devanagari", 0x0900, 0x097F),
    ("cyrillic", 0x0400, 0x04FF), ("cyrillic", 0x0500, 0x052F),
    # round-4b script-unique ranges (each maps to one language via
    # _SCRIPT_UNIQUE)
    ("bengali", 0x0980, 0x09FF),
    ("gurmukhi", 0x0A00, 0x0A7F),
    ("gujarati", 0x0A80, 0x0AFF),
    ("oriya", 0x0B00, 0x0B7F),
    ("tamil", 0x0B80, 0x0BFF),
    ("telugu", 0x0C00, 0x0C7F),
    ("kannada", 0x0C80, 0x0CFF),
    ("malayalam", 0x0D00, 0x0D7F),
    ("sinhala", 0x0D80, 0x0DFF),
    ("myanmar", 0x1000, 0x109F), ("myanmar", 0xAA60, 0xAA7F),
    ("khmer", 0x1780, 0x17FF), ("khmer", 0x19E0, 0x19FF),
    ("ethiopic", 0x1200, 0x137F), ("ethiopic", 0x1380, 0x139F),
    ("armenian", 0x0530, 0x058F), ("armenian", 0xFB13, 0xFB17),
    ("georgian", 0x10A0, 0x10FF), ("georgian", 0x2D00, 0x2D2F),
    ("georgian", 0x1C90, 0x1CBF),
)

# script ids for the vectorized counter: 0 = unmapped, 1 = latin,
# explicit scripts from 2 up (table built lazily per worker process)
_SCRIPT_NAMES = ("latin",) + tuple(dict.fromkeys(s for s, _, _ in _SCRIPT_RANGES))
_SCRIPT_ID = {name: i + 1 for i, name in enumerate(_SCRIPT_NAMES)}
_SCRIPT_TABLE = None  # built on first use: uint8[0x110000]
_ALPHA_CACHE: dict[int, int] = {}  # codepoint -> script id (0 or latin)


def _script_of(ch: str) -> str | None:
    o = ord(ch)
    for name, lo, hi in _SCRIPT_RANGES:
        if lo <= o <= hi:
            return name
    if ch.isalpha():
        return "latin"  # ASCII + extended Latin (incl. Vietnamese)
    return None


def _script_table():
    global _SCRIPT_TABLE
    if _SCRIPT_TABLE is None:
        import numpy as np

        t = np.zeros(0x110000, dtype=np.uint8)
        for name, lo, hi in _SCRIPT_RANGES:
            t[lo : hi + 1] = _SCRIPT_ID[name]
        # pre-mark ASCII letters as latin (the overwhelmingly common
        # catch-all case); other alphabetic codepoints resolve through
        # _ALPHA_CACHE on first sight
        lid = _SCRIPT_ID["latin"]
        t[ord("a") : ord("z") + 1] = lid
        t[ord("A") : ord("Z") + 1] = lid
        _SCRIPT_TABLE = t
    return _SCRIPT_TABLE


def _script_counts(window: str) -> tuple[dict[str, int], int]:
    """Per-script character counts over ``window`` — the vectorized
    twin of mapping `_script_of` over every char (equivalence pinned
    by tests). Returns ({script: count}, total counted)."""
    import numpy as np

    table = _script_table()
    try:
        cp = np.frombuffer(window.encode("utf-32-le"), dtype="<u4")
    except UnicodeEncodeError:
        # lone surrogates (possible in lossily-decoded web text) can't
        # round-trip utf-32; take the per-char ord path for this doc
        cp = np.fromiter(map(ord, window), dtype=np.uint32, count=len(window))
    sid = table[cp]
    unknown = cp[sid == 0]
    extra_latin = 0
    if len(unknown):
        # rare path: non-ASCII codepoints outside every explicit range;
        # isalpha() decides latin-vs-ignore, memoized per process
        lid = _SCRIPT_ID["latin"]
        for o in np.unique(unknown):
            o = int(o)
            got = _ALPHA_CACHE.get(o)
            if got is None:
                got = lid if chr(o).isalpha() else 0
                _ALPHA_CACHE[o] = got
            if got:
                extra_latin += int((unknown == o).sum())
    counts_arr = np.bincount(sid, minlength=len(_SCRIPT_NAMES) + 1)
    counts: dict[str, int] = {}
    for name, i in _SCRIPT_ID.items():
        c = int(counts_arr[i]) + (extra_latin if name == "latin" else 0)
        if c:
            counts[name] = c
    return counts, sum(counts.values())


_LATIN_LANGS = tuple(
    sorted(
        set(_PROFILED_LANGS)
        - set(_CYRILLIC_LANGS)
        - set(_ARABIC_LANGS)
        - set(_DEVANAGARI_LANGS)
        - set(_HEBREW_LANGS)
        - set(_SCRIPT_UNIQUE.values())
        - {"zho", "jpn", "kor"}
    )
)


def detect_lang(text: str | None) -> tuple[str | None, float | None]:
    """(iso639-3 code, calibrated confidence); ``und`` when the
    document matches no language (numbers-only, empty, markup noise).

    Two stages (whatlang architecture): the dominant SCRIPT picks the
    candidate set; for script-unique languages confidence is the
    script purity itself, for shared-script groups (Latin, Cyrillic,
    Arabic, Devanagari, Hebrew) a Cavnar-Trenkle trigram pass over
    only that group's
    profiles picks the language, scaled by script purity. Confidence
    is therefore threshold-comparable across scripts — no ideographic
    floor (see the calibration note above)."""
    if not text:
        return None, None
    # 1024 chars carry ample trigram signal (Cavnar-Trenkle used 300-
    # gram profiles over short documents); the 4096-char window cost
    # ~28% of total extraction CPU for no accuracy gain on the corpus
    window = text[:1024]
    counts, total = _script_counts(window)
    if not total:
        return UND, 0.0
    # Han + kana are one writing system: kana presence marks Japanese
    cjk = counts.get("han", 0) + counts.get("kana", 0)
    dominant = max(counts, key=lambda s: (counts[s], s))
    if dominant in ("han", "kana"):
        frac = cjk / total
        lang = "jpn" if counts.get("kana", 0) > 0.05 * cjk else "zho"
        return lang, round(frac, 4)
    frac = counts[dominant] / total
    if dominant == "hangul":
        return "kor", round(frac, 4)
    if dominant in _SCRIPT_UNIQUE:
        return _SCRIPT_UNIQUE[dominant], round(frac, 4)
    group = {
        "cyrillic": _CYRILLIC_LANGS,
        "arabic": _ARABIC_LANGS,
        "devanagari": _DEVANAGARI_LANGS,
        "hebrew": _HEBREW_LANGS,
        "latin": _LATIN_LANGS,
    }[dominant]
    best_lang, raw = _raw_detect(window, group)
    if best_lang is None or raw <= 0.02:  # matches nothing in-group
        return UND, 0.0
    return best_lang, round(min(1.0, frac * raw), 4)
