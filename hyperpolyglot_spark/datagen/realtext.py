"""Real-prose fixture corpus (the reference ``samples/`` analog).

The reference trains and golden-tests on 2,317 real files; the synthetic
word-pool corpus cannot measure how the models TRANSFER to natural text,
which is what the filter meets on real pages. This module checks in three
short original passages of natural prose per language — written for this
repo, no external source, public domain by construction — used by
tests/test_realtext.py to measure NB / hashed-NB / perplexity behavior
on text whose word order, inflection, and punctuation the synthetic
generator never produces. Accuracy numbers are reported in BASELINE.md.

Passages are everyday prose (weather, a market, an evening at home) so
vocabulary overlaps only partially with the training pools — that
partial overlap is the point of the transfer measurement.
"""

REAL_TEXT: dict[str, tuple[str, ...]] = {
    "en": (
        "The rain started early in the morning and did not stop until "
        "late in the evening, so the children stayed inside and read "
        "their books by the window while the water ran down the glass.",
        "Every Saturday the old market in the middle of the city fills "
        "with people who come to buy bread, fish and vegetables, and "
        "the sellers call out their prices from behind wooden tables.",
        "Science does not give us final answers; it gives us better "
        "questions, and the history of every discovery shows how long "
        "a good question can wait for the person who takes it seriously.",
    ),
    "de": (
        "Der Regen begann früh am Morgen und hörte erst am späten Abend "
        "auf, deshalb blieben die Kinder im Haus und lasen ihre Bücher "
        "am Fenster, während das Wasser über das Glas lief.",
        "Jeden Samstag füllt sich der alte Markt in der Mitte der Stadt "
        "mit Menschen, die Brot, Fisch und Gemüse kaufen wollen, und "
        "die Händler rufen ihre Preise hinter den Holztischen hervor.",
        "Die Wissenschaft gibt uns keine endgültigen Antworten, sondern "
        "bessere Fragen, und die Geschichte jeder Entdeckung zeigt, wie "
        "lange eine gute Frage auf den richtigen Menschen warten kann.",
    ),
    "fr": (
        "La pluie a commencé tôt le matin et ne s'est arrêtée que tard "
        "le soir, alors les enfants sont restés dans la maison et ont "
        "lu leurs livres près de la fenêtre pendant que l'eau coulait.",
        "Chaque samedi, le vieux marché au milieu de la ville se "
        "remplit de gens qui viennent acheter du pain, du poisson et "
        "des légumes, et les vendeurs crient leurs prix derrière les "
        "tables en bois.",
        "La science ne nous donne pas de réponses définitives ; elle "
        "nous donne de meilleures questions, et l'histoire de chaque "
        "découverte montre combien de temps une bonne question peut "
        "attendre la personne qui la prend au sérieux.",
    ),
    "es": (
        "La lluvia empezó temprano por la mañana y no paró hasta bien "
        "entrada la noche, así que los niños se quedaron en casa y "
        "leyeron sus libros junto a la ventana mientras el agua corría "
        "por el cristal.",
        "Cada sábado el viejo mercado en el centro de la ciudad se "
        "llena de gente que viene a comprar pan, pescado y verduras, y "
        "los vendedores gritan sus precios detrás de las mesas de "
        "madera.",
        "La ciencia no nos da respuestas definitivas; nos da mejores "
        "preguntas, y la historia de cada descubrimiento muestra cuánto "
        "tiempo puede esperar una buena pregunta a la persona que la "
        "toma en serio.",
    ),
    "it": (
        "La pioggia è cominciata presto la mattina e non si è fermata "
        "fino a tarda sera, così i bambini sono rimasti in casa e hanno "
        "letto i loro libri vicino alla finestra mentre l'acqua "
        "scorreva sul vetro.",
        "Ogni sabato il vecchio mercato nel centro della città si "
        "riempie di gente che viene a comprare pane, pesce e verdura, e "
        "i venditori gridano i loro prezzi dietro i tavoli di legno.",
        "La scienza non ci dà risposte definitive; ci dà domande "
        "migliori, e la storia di ogni scoperta mostra quanto a lungo "
        "una buona domanda può aspettare la persona che la prende sul "
        "serio.",
    ),
    "pt": (
        "A chuva começou cedo pela manhã e não parou até tarde da "
        "noite, por isso as crianças ficaram em casa e leram os seus "
        "livros junto à janela enquanto a água corria pelo vidro.",
        "Todos os sábados o velho mercado no centro da cidade enche-se "
        "de pessoas que vêm comprar pão, peixe e legumes, e os "
        "vendedores gritam os preços atrás das mesas de madeira.",
        "A ciência não nos dá respostas definitivas; dá-nos perguntas "
        "melhores, e a história de cada descoberta mostra quanto tempo "
        "uma boa pergunta pode esperar pela pessoa que a leva a sério.",
    ),
    "nl": (
        "De regen begon vroeg in de ochtend en hield pas laat in de "
        "avond op, dus bleven de kinderen binnen en lazen hun boeken "
        "bij het raam terwijl het water langs het glas liep.",
        "Elke zaterdag vult de oude markt in het midden van de stad "
        "zich met mensen die brood, vis en groente komen kopen, en de "
        "verkopers roepen hun prijzen achter de houten tafels.",
        "De wetenschap geeft ons geen definitieve antwoorden; ze geeft "
        "ons betere vragen, en de geschiedenis van elke ontdekking "
        "laat zien hoe lang een goede vraag kan wachten op de mens die "
        "haar serieus neemt.",
    ),
    "sv": (
        "Regnet började tidigt på morgonen och slutade inte förrän "
        "sent på kvällen, så barnen stannade inne och läste sina "
        "böcker vid fönstret medan vattnet rann nerför glaset.",
        "Varje lördag fylls den gamla marknaden mitt i staden av "
        "människor som kommer för att köpa bröd, fisk och grönsaker, "
        "och försäljarna ropar ut sina priser bakom träborden.",
        "Vetenskapen ger oss inga slutgiltiga svar; den ger oss bättre "
        "frågor, och historien om varje upptäckt visar hur länge en "
        "bra fråga kan vänta på den människa som tar den på allvar.",
    ),
    "da": (
        "Regnen begyndte tidligt om morgenen og holdt først op sent om "
        "aftenen, så børnene blev inde og læste deres bøger ved "
        "vinduet, mens vandet løb ned ad glasset.",
        "Hver lørdag fyldes det gamle marked midt i byen af mennesker, "
        "der kommer for at købe brød, fisk og grøntsager, og sælgerne "
        "råber deres priser bag træbordene.",
        "Videnskaben giver os ikke endelige svar; den giver os bedre "
        "spørgsmål, og historien om enhver opdagelse viser, hvor længe "
        "et godt spørgsmål kan vente på det menneske, der tager det "
        "alvorligt.",
    ),
    "fi": (
        "Sade alkoi aikaisin aamulla eikä lakannut ennen myöhäistä "
        "iltaa, joten lapset pysyivät sisällä ja lukivat kirjojaan "
        "ikkunan ääressä, kun vesi valui pitkin lasia.",
        "Joka lauantai kaupungin keskellä oleva vanha tori täyttyy "
        "ihmisistä, jotka tulevat ostamaan leipää, kalaa ja "
        "vihanneksia, ja myyjät huutavat hintojaan puupöytien takaa.",
        "Tiede ei anna meille lopullisia vastauksia; se antaa parempia "
        "kysymyksiä, ja jokaisen keksinnön historia näyttää, kuinka "
        "kauan hyvä kysymys voi odottaa ihmistä, joka ottaa sen "
        "vakavasti.",
    ),
    "pl": (
        "Deszcz zaczął padać wcześnie rano i nie przestał aż do "
        "późnego wieczora, więc dzieci zostały w domu i czytały swoje "
        "książki przy oknie, podczas gdy woda spływała po szybie.",
        "W każdą sobotę stary rynek w środku miasta wypełnia się "
        "ludźmi, którzy przychodzą kupić chleb, ryby i warzywa, a "
        "sprzedawcy wykrzykują ceny zza drewnianych stołów.",
        "Nauka nie daje nam ostatecznych odpowiedzi; daje nam lepsze "
        "pytania, a historia każdego odkrycia pokazuje, jak długo "
        "dobre pytanie może czekać na człowieka, który potraktuje je "
        "poważnie.",
    ),
    "cs": (
        "Déšť začal brzy ráno a přestal až pozdě večer, takže děti "
        "zůstaly doma a četly si knihy u okna, zatímco voda stékala po "
        "skle.",
        "Každou sobotu se starý trh uprostřed města naplní lidmi, "
        "kteří přicházejí koupit chléb, ryby a zeleninu, a prodavači "
        "vyvolávají ceny zpoza dřevěných stolů.",
        "Věda nám nedává konečné odpovědi; dává nám lepší otázky a "
        "historie každého objevu ukazuje, jak dlouho může dobrá otázka "
        "čekat na člověka, který ji vezme vážně.",
    ),
    "ro": (
        "Ploaia a început devreme dimineața și nu s-a oprit până "
        "târziu seara, așa că copiii au rămas în casă și și-au citit "
        "cărțile lângă fereastră în timp ce apa curgea pe geam.",
        "În fiecare sâmbătă piața veche din mijlocul orașului se umple "
        "de oameni care vin să cumpere pâine, pește și legume, iar "
        "vânzătorii își strigă prețurile din spatele meselor de lemn.",
        "Știința nu ne dă răspunsuri definitive; ne dă întrebări mai "
        "bune, iar istoria fiecărei descoperiri arată cât de mult poate "
        "aștepta o întrebare bună omul care o ia în serios.",
    ),
    "hu": (
        "Az eső kora reggel kezdett esni és csak késő este állt el, "
        "ezért a gyerekek bent maradtak és az ablaknál olvasták a "
        "könyveiket, miközben a víz végigfolyt az üvegen.",
        "Minden szombaton a város közepén lévő régi piac megtelik "
        "emberekkel, akik kenyeret, halat és zöldséget jönnek venni, "
        "az árusok pedig a faasztalok mögül kiabálják az áraikat.",
        "A tudomány nem ad végleges válaszokat; jobb kérdéseket ad, és "
        "minden felfedezés története megmutatja, meddig várhat egy jó "
        "kérdés arra az emberre, aki komolyan veszi.",
    ),
    "tr": (
        "Yağmur sabah erkenden başladı ve akşam geç saatlere kadar "
        "durmadı, bu yüzden çocuklar içeride kaldı ve su camdan "
        "akarken pencerenin yanında kitaplarını okudular.",
        "Her cumartesi şehrin ortasındaki eski pazar ekmek, balık ve "
        "sebze almaya gelen insanlarla dolar ve satıcılar tahta "
        "masaların arkasından fiyatlarını bağırırlar.",
        "Bilim bize kesin cevaplar vermez; daha iyi sorular verir ve "
        "her keşfin tarihi, iyi bir sorunun onu ciddiye alan insanı ne "
        "kadar bekleyebileceğini gösterir.",
    ),
    "ru": (
        "Дождь начался рано утром и не прекращался до позднего "
        "вечера, поэтому дети остались дома и читали свои книги у "
        "окна, пока вода стекала по стеклу.",
        "Каждую субботу старый рынок в середине города наполняется "
        "людьми, которые приходят купить хлеб, рыбу и овощи, а "
        "продавцы выкрикивают цены из-за деревянных столов.",
        "Наука не даёт нам окончательных ответов; она даёт лучшие "
        "вопросы, и история каждого открытия показывает, как долго "
        "хороший вопрос может ждать человека, который примет его "
        "всерьёз.",
    ),
    "el": (
        "Η βροχή άρχισε νωρίς το πρωί και δεν σταμάτησε παρά αργά το "
        "βράδυ, έτσι τα παιδιά έμειναν μέσα και διάβαζαν τα βιβλία "
        "τους δίπλα στο παράθυρο ενώ το νερό κυλούσε στο τζάμι.",
        "Κάθε Σάββατο η παλιά αγορά στη μέση της πόλης γεμίζει με "
        "ανθρώπους που έρχονται να αγοράσουν ψωμί, ψάρι και λαχανικά, "
        "και οι πωλητές φωνάζουν τις τιμές πίσω από τα ξύλινα τραπέζια.",
        "Η επιστήμη δεν μας δίνει οριστικές απαντήσεις· μας δίνει "
        "καλύτερες ερωτήσεις, και η ιστορία κάθε ανακάλυψης δείχνει "
        "πόσο καιρό μπορεί να περιμένει μια καλή ερώτηση τον άνθρωπο "
        "που θα την πάρει στα σοβαρά.",
    ),
    "zh": (
        "雨从清晨开始下，一直到深夜才停，所以孩子们留在家里，"
        "坐在窗边读书，看着水沿着玻璃流下来。",
        "每个星期六，城市中间的老市场都挤满了来买面包、鱼和蔬菜的人，"
        "卖家在木桌后面大声喊着他们的价格。",
        "科学不会给我们最终的答案，它给我们更好的问题，而每一次发现的"
        "历史都表明，一个好问题可以等待认真对待它的人很久。",
    ),
    "ja": (
        "雨は朝早くから降り始め、夜遅くまでやまなかったので、"
        "子供たちは家の中に残り、水がガラスを流れるのを見ながら"
        "窓のそばで本を読んだ。",
        "毎週土曜日、町の真ん中にある古い市場は、パンや魚や野菜を"
        "買いに来る人々でいっぱいになり、売り手は木のテーブルの"
        "後ろから値段を叫ぶ。",
        "科学は最終的な答えを与えてくれない。より良い問いを与えて"
        "くれるのであり、あらゆる発見の歴史は、良い問いがそれを"
        "真剣に受け止める人をどれほど長く待てるかを示している。",
    ),
    "ko": (
        "비는 아침 일찍부터 내리기 시작해서 밤 늦게까지 그치지 "
        "않았고, 아이들은 집 안에 남아 물이 유리를 타고 흐르는 것을 "
        "보며 창가에서 책을 읽었다.",
        "토요일마다 도시 한가운데 있는 오래된 시장은 빵과 생선과 "
        "채소를 사러 오는 사람들로 가득 차고, 상인들은 나무 탁자 "
        "뒤에서 가격을 외친다.",
        "과학은 우리에게 최종적인 답을 주지 않는다. 더 나은 질문을 "
        "주며, 모든 발견의 역사는 좋은 질문이 그것을 진지하게 "
        "받아들이는 사람을 얼마나 오래 기다릴 수 있는지 보여 준다.",
    ),
    "ar": (
        "بدأ المطر في الصباح الباكر ولم يتوقف حتى وقت متأخر من "
        "المساء، فبقي الأطفال في البيت وقرأوا كتبهم بجانب النافذة "
        "بينما كان الماء يسيل على الزجاج.",
        "في كل يوم سبت يمتلئ السوق القديم في وسط المدينة بالناس "
        "الذين يأتون لشراء الخبز والسمك والخضار، وينادي الباعة "
        "بأسعارهم من خلف الطاولات الخشبية.",
        "العلم لا يعطينا إجابات نهائية؛ بل يعطينا أسئلة أفضل، وتاريخ "
        "كل اكتشاف يبين كم يمكن لسؤال جيد أن ينتظر الإنسان الذي "
        "يأخذه على محمل الجد.",
    ),
    "hi": (
        "बारिश सुबह जल्दी शुरू हुई और देर रात तक नहीं रुकी, इसलिए "
        "बच्चे घर के अंदर रहे और खिड़की के पास अपनी किताबें पढ़ते "
        "रहे, जबकि पानी कांच पर बहता रहा।",
        "हर शनिवार शहर के बीच का पुराना बाजार उन लोगों से भर जाता है "
        "जो रोटी, मछली और सब्जियां खरीदने आते हैं, और विक्रेता लकड़ी "
        "की मेजों के पीछे से अपने दाम पुकारते हैं।",
        "विज्ञान हमें अंतिम उत्तर नहीं देता; वह बेहतर प्रश्न देता है, "
        "और हर खोज का इतिहास दिखाता है कि एक अच्छा प्रश्न उस व्यक्ति "
        "की कितनी प्रतीक्षा कर सकता है जो उसे गंभीरता से लेता है।",
    ),
    "id": (
        "Hujan mulai turun pagi-pagi sekali dan tidak berhenti sampai "
        "larut malam, jadi anak-anak tetap di dalam rumah dan membaca "
        "buku mereka di dekat jendela sementara air mengalir di kaca.",
        "Setiap hari Sabtu pasar tua di tengah kota penuh dengan orang "
        "yang datang membeli roti, ikan, dan sayuran, dan para penjual "
        "meneriakkan harga dari belakang meja kayu.",
        "Ilmu pengetahuan tidak memberi kita jawaban akhir; ia memberi "
        "kita pertanyaan yang lebih baik, dan sejarah setiap penemuan "
        "menunjukkan berapa lama sebuah pertanyaan yang baik dapat "
        "menunggu orang yang menganggapnya serius.",
    ),
    "vi": (
        "Cơn mưa bắt đầu từ sáng sớm và không ngừng cho đến tận khuya, "
        "vì vậy bọn trẻ ở trong nhà và đọc sách bên cửa sổ trong khi "
        "nước chảy dọc theo tấm kính.",
        "Mỗi thứ bảy, khu chợ cũ ở giữa thành phố lại đầy những người "
        "đến mua bánh mì, cá và rau, và những người bán hàng rao giá "
        "từ phía sau những chiếc bàn gỗ.",
        "Khoa học không cho chúng ta câu trả lời cuối cùng; nó cho "
        "chúng ta những câu hỏi tốt hơn, và lịch sử của mỗi khám phá "
        "cho thấy một câu hỏi hay có thể chờ đợi người coi trọng nó "
        "bao lâu.",
    ),
    # --- round-3 breadth subset -------------------------------------
    "no": (
        "Regnet begynte tidlig om morgenen og sluttet ikke før sent på "
        "kvelden, så barna ble inne og leste bøkene sine ved vinduet "
        "mens vannet rant nedover glasset.",
        "Hver lørdag fylles det gamle markedet midt i byen av "
        "mennesker som kommer for å kjøpe brød, fisk og grønnsaker, og "
        "selgerne roper ut prisene sine bak trebordene.",
        "Vitenskapen gir oss ikke endelige svar; den gir oss bedre "
        "spørsmål, og historien om hver oppdagelse viser hvor lenge et "
        "godt spørsmål kan vente på mennesket som tar det på alvor.",
    ),
    "uk": (
        "Дощ почався рано вранці і не вщухав до пізнього вечора, тому "
        "діти залишилися вдома й читали свої книжки біля вікна, поки "
        "вода стікала по склу.",
        "Щосуботи старий ринок посеред міста наповнюється людьми, які "
        "приходять купити хліб, рибу та овочі, а продавці вигукують "
        "ціни з-за дерев'яних столів.",
        "Наука не дає нам остаточних відповідей; вона дає кращі "
        "питання, й історія кожного відкриття показує, як довго добре "
        "питання може чекати на людину, яка сприйме його серйозно.",
    ),
    "ca": (
        "La pluja va començar aviat al matí i no va parar fins ben "
        "entrada la nit, així que els nens es van quedar a casa i van "
        "llegir els seus llibres vora la finestra mentre l'aigua "
        "corria pel vidre.",
        "Cada dissabte el vell mercat al mig de la ciutat s'omple de "
        "gent que ve a comprar pa, peix i verdures, i els venedors "
        "criden els preus darrere les taules de fusta.",
        "La ciència no ens dóna respostes definitives; ens dóna "
        "preguntes millors, i la història de cada descobriment mostra "
        "quant de temps pot esperar una bona pregunta la persona que "
        "se la pren seriosament.",
    ),
    "gl": (
        "A chuvia comezou cedo pola mañá e non parou ata tarde pola "
        "noite, así que os nenos quedaron na casa e leron os seus "
        "libros xunto á fiestra mentres a auga corría polo vidro.",
        "Cada sábado o vello mercado no medio da cidade énchese de "
        "xente que vén mercar pan, peixe e verduras, e os vendedores "
        "berran os prezos detrás das mesas de madeira.",
        "A ciencia non nos dá respostas definitivas; dános preguntas "
        "mellores, e a historia de cada descubrimento amosa canto "
        "tempo pode agardar unha boa pregunta pola persoa que a toma "
        "en serio.",
    ),
    "af": (
        "Die reën het vroeg in die oggend begin en eers laat in die "
        "aand opgehou, daarom het die kinders binne gebly en hulle "
        "boeke by die venster gelees terwyl die water teen die glas "
        "afgeloop het.",
        "Elke Saterdag word die ou mark in die middel van die stad vol "
        "mense wat brood, vis en groente kom koop, en die verkopers "
        "roep hulle pryse agter die houttafels uit.",
        "Die wetenskap gee ons nie finale antwoorde nie; dit gee ons "
        "beter vrae, en die geskiedenis van elke ontdekking wys hoe "
        "lank 'n goeie vraag kan wag vir die mens wat dit ernstig "
        "opneem.",
    ),
    "ms": (
        "Hujan mula turun awal pagi dan tidak berhenti sehingga lewat "
        "malam, jadi kanak-kanak itu tinggal di dalam rumah dan "
        "membaca buku mereka di tepi tingkap sementara air mengalir "
        "di kaca.",
        "Setiap hari Sabtu pasar lama di tengah bandar dipenuhi orang "
        "yang datang membeli roti, ikan dan sayur, dan para penjual "
        "melaungkan harga dari belakang meja kayu.",
        "Sains tidak memberi kita jawapan muktamad; ia memberi kita "
        "soalan yang lebih baik, dan sejarah setiap penemuan "
        "menunjukkan berapa lama soalan yang baik boleh menunggu orang "
        "yang mengambilnya dengan serius kerana itu penting.",
    ),
    "sw": (
        "Mvua ilianza asubuhi na mapema na haikuacha mpaka usiku wa "
        "manane, kwa hivyo watoto walibaki ndani ya nyumba na kusoma "
        "vitabu vyao karibu na dirisha wakati maji yakitiririka kwenye "
        "kioo.",
        "Kila Jumamosi soko la zamani katikati ya mji hujaa watu "
        "wanaokuja kununua mkate, samaki na mboga, na wauzaji hupiga "
        "kelele za bei zao nyuma ya meza za mbao.",
        "Sayansi haitupi majibu ya mwisho; inatupa maswali bora "
        "zaidi, na historia ya kila ugunduzi inaonyesha muda gani "
        "swali zuri linaweza kumsubiri mtu anayelichukulia kwa uzito.",
    ),
    "tl": (
        "Nagsimula ang ulan nang maaga sa umaga at hindi tumigil "
        "hanggang gabi, kaya nanatili ang mga bata sa loob ng bahay at "
        "nagbasa ng kanilang mga libro sa tabi ng bintana habang "
        "umaagos ang tubig sa salamin.",
        "Tuwing Sabado ang lumang palengke sa gitna ng lungsod ay "
        "napupuno ng mga taong bumibili ng tinapay, isda at gulay, at "
        "isinisigaw ng mga nagtitinda ang kanilang mga presyo sa likod "
        "ng mga mesang kahoy.",
        "Hindi tayo binibigyan ng agham ng panghuling sagot; "
        "binibigyan tayo nito ng mas mahusay na mga tanong, at "
        "ipinapakita ng kasaysayan ng bawat tuklas kung gaano katagal "
        "makapaghihintay ang isang mabuting tanong sa taong sineseryoso "
        "ito.",
    ),
    "is": (
        "Rigningin byrjaði snemma um morguninn og hætti ekki fyrr en "
        "seint um kvöldið, svo börnin voru inni og lásu bækurnar sínar "
        "við gluggann á meðan vatnið rann niður glerið.",
        "Á hverjum laugardegi fyllist gamli markaðurinn í miðjum bænum "
        "af fólki sem kemur að kaupa brauð, fisk og grænmeti, og "
        "sölumennirnir kalla upp verðin sín bak við tréborðin.",
        "Vísindin gefa okkur ekki endanleg svör; þau gefa okkur betri "
        "spurningar, og saga hverrar uppgötvunar sýnir hve lengi góð "
        "spurning getur beðið eftir manneskjunni sem tekur hana "
        "alvarlega.",
    ),
    "sq": (
        "Shiu filloi herët në mëngjes dhe nuk pushoi deri vonë në "
        "mbrëmje, kështu që fëmijët qëndruan brenda dhe lexuan librat "
        "e tyre pranë dritares ndërsa uji rridhte nëpër xham.",
        "Çdo të shtunë tregu i vjetër në mes të qytetit mbushet me "
        "njerëz që vijnë të blejnë bukë, peshk dhe perime, dhe "
        "shitësit thërrasin çmimet e tyre pas tavolinave prej druri.",
        "Shkenca nuk na jep përgjigje përfundimtare; na jep pyetje më "
        "të mira, dhe historia e çdo zbulimi tregon sa gjatë mund të "
        "presë një pyetje e mirë njeriun që e merr seriozisht.",
    ),
    "hr": (
        "Kiša je počela rano ujutro i nije prestala do kasno navečer, "
        "pa su djeca ostala u kući i čitala svoje knjige kraj prozora "
        "dok je voda tekla niz staklo.",
        "Svake subote stara tržnica u sredini grada puni se ljudima "
        "koji dolaze kupiti kruh, ribu i povrće, a prodavači viču "
        "svoje cijene iza drvenih stolova.",
        "Znanost nam ne daje konačne odgovore; daje nam bolja pitanja, "
        "a povijest svakog otkrića pokazuje koliko dugo dobro pitanje "
        "može čekati čovjeka koji ga shvati ozbiljno.",
    ),
    "sk": (
        "Dážď začal padať skoro ráno a neprestal až do neskorého "
        "večera, takže deti zostali doma a čítali si knihy pri okne, "
        "zatiaľ čo voda stekala po skle.",
        "Každú sobotu sa starý trh uprostred mesta naplní ľuďmi, ktorí "
        "prichádzajú kúpiť chlieb, ryby a zeleninu, a predavači "
        "vykrikujú ceny spoza drevených stolov.",
        "Veda nám nedáva konečné odpovede; dáva nám lepšie otázky a "
        "história každého objavu ukazuje, ako dlho môže dobrá otázka "
        "čakať na človeka, ktorý ju berie vážne, pretože to je "
        "podstatné.",
    ),
    "he": (
        "הגשם התחיל מוקדם בבוקר ולא פסק עד שעה מאוחרת בערב, ולכן "
        "הילדים נשארו בבית וקראו את הספרים שלהם ליד החלון בזמן "
        "שהמים זרמו על הזכוכית.",
        "בכל יום שבת השוק הישן שבמרכז העיר מתמלא באנשים שבאים "
        "לקנות לחם, דגים וירקות, והמוכרים קוראים את המחירים מאחורי "
        "השולחנות מעץ.",
        "המדע אינו נותן לנו תשובות סופיות; הוא נותן לנו שאלות "
        "טובות יותר, וההיסטוריה של כל תגלית מראה כמה זמן יכולה "
        "שאלה טובה לחכות לאדם שייקח אותה ברצינות.",
    ),
    "th": (
        "ฝนเริ่มตกตั้งแต่เช้าตรู่และไม่หยุดจนดึก เด็ก ๆ "
        "จึงอยู่ในบ้านและอ่านหนังสือของพวกเขาข้างหน้าต่าง "
        "ขณะที่น้ำไหลลงตามกระจก",
        "ทุกวันเสาร์ ตลาดเก่ากลางเมืองจะเต็มไปด้วยผู้คนที่มาซื้อขนมปัง "
        "ปลา และผัก และพ่อค้าแม่ค้าก็ตะโกนบอกราคาจากหลังโต๊ะไม้",
        "วิทยาศาสตร์ไม่ได้ให้คำตอบสุดท้ายแก่เรา "
        "มันให้คำถามที่ดีกว่า และประวัติของการค้นพบทุกครั้งแสดงให้เห็นว่า "
        "คำถามที่ดีสามารถรอคนที่จริงจังกับมันได้นานเพียงใด",
    ),
    # breadth block 2 additions (102-language universe)
    "eo": (
        "La pluvo komenciĝis frue en la mateno kaj ne ĉesis ĝis "
        "malfrue en la vespero, do la infanoj restis en la domo kaj "
        "legis siajn librojn ĉe la fenestro dum la akvo fluis sur la "
        "vitro.",
        "Ĉiun sabaton la malnova merkato en la mezo de la urbo "
        "pleniĝas per homoj kiuj venas por aĉeti panon, fiŝojn kaj "
        "legomojn, kaj la vendistoj krias siajn prezojn malantaŭ la "
        "lignaj tabloj.",
        "La scienco ne donas al ni finajn respondojn; ĝi donas al ni "
        "pli bonajn demandojn, kaj la historio de ĉiu malkovro "
        "montras kiom longe bona demando povas atendi la homon kiu "
        "prenas ĝin serioze.",
    ),
    "la": (
        "Pluvia mane incepit nec ante vesperum cessavit, itaque "
        "liberi in domo manserunt et libros suos ad fenestram "
        "legerunt dum aqua per vitrum fluebat.",
        "Omni sabbato forum vetus in media urbe hominibus completur "
        "qui panem, pisces et holera emere veniunt, et venditores "
        "pretia sua post mensas ligneas clamant.",
        "Scientia nobis responsa ultima non dat sed quaestiones "
        "meliores, et historia omnium inventorum monstrat quam diu "
        "quaestio bona hominem exspectare possit qui eam serio "
        "accipiat.",
    ),
    "bg": (
        'Дъждът започна рано сутринта и не спря до късно вечерта, затова децата останаха вкъщи и четяха книгите си до прозореца, докато водата се стичаше по стъклото.',
        'Всяка събота старият пазар в средата на града се пълни с хора, които идват да купят хляб, риба и зеленчуци, а продавачите викат цените си зад дървените маси.',
        'Науката не ни дава окончателни отговори; тя ни дава по-добри въпроси, а историята на всяко откритие показва колко дълго един добър въпрос може да чака.',
    ),
    "sr": (
        'Киша је почела рано ујутру и није престала до касно увече, па су деца остала у кући и читала своје књиге поред прозора док је вода текла низ стакло.',
        'Сваке суботе стара пијаца у средини града пуни се људима који долазе да купе хлеб, рибу и поврће, а продавци вичу своје цене иза дрвених столова.',
        'Наука нам не даје коначне одговоре; она нам даје боља питања, а историја сваког открића показује колико дуго добро питање може да чека.',
    ),
    "mk": (
        'Дождот почна рано наутро и не престана до доцна навечер, па децата останаа дома и ги читаа своите книги до прозорецот додека водата течеше по стаклото.',
        'Секоја сабота стариот пазар во средината на градот се полни со луѓе што доаѓаат да купат леб, риба и зеленчук, а продавачите ги викаат своите цени зад дрвените маси.',
        'Науката не ни дава конечни одговори; таа ни дава подобри прашања, а историјата на секое откритие покажува колку долго едно добро прашање може да чека.',
    ),
    "be": (
        'Дождж пачаўся рана раніцай і не спыніўся да позняга вечара, таму дзеці засталіся дома і чыталі свае кнігі ля акна, пакуль вада цякла па шкле.',
        'Кожную суботу стары рынак у сярэдзіне горада напаўняецца людзьмі, якія прыходзяць купіць хлеб, рыбу і гародніну, а прадаўцы крычаць свае цэны за драўлянымі сталамі.',
        'Навука не дае нам канчатковых адказаў; яна дае нам лепшыя пытанні, а гісторыя кожнага адкрыцця паказвае, як доўга добрае пытанне можа чакаць.',
    ),
    "lt": (
        'Lietus prasidėjo anksti rytą ir nesiliovė iki vėlaus vakaro, todėl vaikai liko namuose ir skaitė savo knygas prie lango, kol vanduo tekėjo stiklu.',
        'Kiekvieną šeštadienį senasis turgus miesto viduryje prisipildo žmonių, kurie ateina pirkti duonos, žuvies ir daržovių, o pardavėjai šaukia savo kainas už medinių stalų.',
        'Mokslas neduoda mums galutinių atsakymų; jis duoda mums geresnius klausimus, o kiekvieno atradimo istorija rodo, kaip ilgai geras klausimas gali laukti.',
    ),
    "lv": (
        'Lietus sākās agri no rīta un nebeidzās līdz vēlam vakaram, tāpēc bērni palika mājās un lasīja savas grāmatas pie loga, kamēr ūdens tecēja pa stiklu.',
        'Katru sestdienu vecais tirgus pilsētas vidū piepildās ar cilvēkiem, kas nāk pirkt maizi, zivis un dārzeņus, un pārdevēji sauc savas cenas aiz koka galdiem.',
        'Zinātne nedod mums galīgas atbildes; tā dod mums labākus jautājumus, un katra atklājuma vēsture rāda, cik ilgi labs jautājums var gaidīt.',
    ),
    "et": (
        'Vihm algas varahommikul ja ei lõppenud enne hilist õhtut, seepärast jäid lapsed koju ja lugesid oma raamatuid akna juures, samal ajal kui vesi mööda klaasi voolas.',
        'Igal laupäeval täitub vana turg linna keskel inimestega, kes tulevad ostma leiba, kala ja köögivilju, ning müüjad hüüavad oma hindu puidust laudade tagant.',
        'Teadus ei anna meile lõplikke vastuseid; ta annab meile paremaid küsimusi, ja iga avastuse ajalugu näitab, kui kaua hea küsimus võib oodata.',
    ),
    "sl": (
        'Dež se je začel zgodaj zjutraj in ni prenehal do poznega večera, zato so otroci ostali doma in brali svoje knjige ob oknu, medtem ko je voda tekla po steklu.',
        'Vsako soboto se stara tržnica sredi mesta napolni z ljudmi, ki pridejo kupit kruh, ribe in zelenjavo, prodajalci pa kličejo svoje cene izza lesenih miz.',
        'Znanost nam ne daje končnih odgovorov; daje nam boljša vprašanja, in zgodovina vsakega odkritja kaže, kako dolgo lahko dobro vprašanje čaka.',
    ),
    "fa": (
        'باران از صبح زود شروع شد و تا آخر شب بند نیامد، پس بچه\u200cها در خانه ماندند و کنار پنجره کتاب\u200cهای خود را خواندند در حالی که آب روی شیشه جاری بود.',
        'هر شنبه بازار قدیمی در وسط شهر پر از مردمی می\u200cشود که برای خریدن نان و ماهی و سبزیجات می\u200cآیند و فروشندگان قیمت\u200cهای خود را پشت میزهای چوبی فریاد می\u200cزنند.',
        'علم به ما پاسخ\u200cهای نهایی نمی\u200cدهد؛ به ما پرسش\u200cهای بهتری می\u200cدهد و تاریخ هر کشف نشان می\u200cدهد که یک پرسش خوب چه مدت می\u200cتواند منتظر بماند.',
    ),
    "ur": (
        'بارش صبح سویرے شروع ہوئی اور رات گئے تک نہیں رکی، اس لیے بچے گھر میں رہے اور کھڑکی کے پاس اپنی کتابیں پڑھتے رہے جبکہ پانی شیشے پر بہتا رہا۔',
        'ہر ہفتے شہر کے وسط میں پرانا بازار لوگوں سے بھر جاتا ہے جو روٹی، مچھلی اور سبزیاں خریدنے آتے ہیں، اور دکاندار لکڑی کی میزوں کے پیچھے اپنی قیمتیں پکارتے ہیں۔',
        'سائنس ہمیں حتمی جواب نہیں دیتی؛ وہ ہمیں بہتر سوال دیتی ہے، اور ہر دریافت کی تاریخ دکھاتی ہے کہ ایک اچھا سوال کتنی دیر انتظار کر سکتا ہے۔',
    ),
    "bn": (
        'বৃষ্টি সকাল থেকে শুরু হয়ে সন্ধ্যা পর্যন্ত থামেনি, তাই ছেলেমেয়েরা ঘরে থেকে জানালার পাশে বসে বই পড়ল, আর জল কাচের উপর দিয়ে গড়িয়ে পড়ছিল।',
        'প্রতি শনিবার শহরের মাঝখানের পুরনো বাজার মানুষে ভরে যায়, যারা রুটি, মাছ আর সবজি কিনতে আসে, এবং বিক্রেতারা কাঠের টেবিলের পেছন থেকে দাম হাঁকে।',
        'বিজ্ঞান আমাদের চূড়ান্ত উত্তর দেয় না; সে আমাদের আরও ভালো প্রশ্ন দেয়, আর প্রতিটি আবিষ্কারের ইতিহাস দেখায় একটি ভালো প্রশ্ন কত দিন অপেক্ষা করতে পারে।',
    ),
    "ta": (
        'மழை காலையில் தொடங்கி இரவு வரை நிற்கவில்லை, அதனால் குழந்தைகள் வீட்டில் இருந்து ஜன்னல் அருகில் தங்கள் புத்தகங்களைப் படித்தனர், தண்ணீர் கண்ணாடியில் வழிந்தது.',
        'ஒவ்வொரு சனிக்கிழமையும் நகரின் நடுவில் உள்ள பழைய சந்தை ரொட்டி, மீன் மற்றும் காய்கறிகள் வாங்க வரும் மக்களால் நிறைகிறது, விற்பனையாளர்கள் மர மேசைகளுக்குப் பின்னால் விலைகளைக் கூவுகிறார்கள்.',
        'அறிவியல் நமக்கு இறுதியான பதில்களைத் தருவதில்லை; அது சிறந்த கேள்விகளைத் தருகிறது, ஒவ்வொரு கண்டுபிடிப்பின் வரலாறும் ஒரு நல்ல கேள்வி எவ்வளவு காலம் காத்திருக்க முடியும் என்பதைக் காட்டுகிறது.',
    ),
    "ml": (
        'മഴ രാവിലെ തുടങ്ങി രാത്രി വരെ നിന്നില്ല, അതിനാൽ കുട്ടികൾ വീട്ടിൽ ഇരുന്നു ജനലിനരികിൽ പുസ്തകങ്ങൾ വായിച്ചു, വെള്ളം ചില്ലിലൂടെ ഒഴുകി.',
        'എല്ലാ ശനിയാഴ്ചയും നഗരത്തിന്റെ നടുവിലെ പഴയ ചന്ത റൊട്ടിയും മീനും പച്ചക്കറികളും വാങ്ങാൻ വരുന്ന ആളുകളെക്കൊണ്ട് നിറയുന്നു, വിൽപ്പനക്കാർ മരമേശകൾക്കു പിന്നിൽ നിന്ന് വില വിളിക്കുന്നു.',
        'ശാസ്ത്രം നമുക്ക് അന്തിമ ഉത്തരങ്ങൾ നൽകുന്നില്ല; അത് മെച്ചപ്പെട്ട ചോദ്യങ്ങൾ നൽകുന്നു, ഓരോ കണ്ടുപിടിത്തത്തിന്റെയും ചരിത്രം ഒരു നല്ല ചോദ്യത്തിന് എത്ര കാലം കാത്തിരിക്കാൻ കഴിയുമെന്ന് കാണിക്കുന്നു.',
    ),
    "hy": (
        'Անձրևը սկսվեց վաղ առավոտյան և չդադարեց մինչև ուշ երեկո, ուստի երեխաները մնացին տանը և կարդում էին իրենց գրքերը պատուհանի մոտ, մինչ ջուրը հոսում էր ապակու վրայով։',
        'Ամեն շաբաթ քաղաքի կենտրոնի հին շուկան լցվում է մարդկանցով, ովքեր գալիս են հաց, ձուկ և բանջարեղեն գնելու, իսկ վաճառողները փայտե սեղանների հետևից գոռում են իրենց գները։',
        'Գիտությունը մեզ վերջնական պատասխաններ չի տալիս. այն մեզ ավելի լավ հարցեր է տալիս, և ամեն հայտնագործության պատմությունը ցույց է տալիս, թե որքան երկար կարող է սպասել լավ հարցը։',
    ),
    "ka": (
        'წვიმა დილით ადრე დაიწყო და გვიან საღამომდე არ შეწყვეტილა, ამიტომ ბავშვები სახლში დარჩნენ და ფანჯარასთან კითხულობდნენ თავიანთ წიგნებს, სანამ წყალი მინაზე ჩამოდიოდა.',
        'ყოველ შაბათს ქალაქის შუაგულში ძველი ბაზარი ივსება ხალხით, რომლებიც მოდიან პურის, თევზისა და ბოსტნეულის საყიდლად, გამყიდველები კი ხის მაგიდების უკნიდან თავიანთ ფასებს იძახიან.',
        'მეცნიერება საბოლოო პასუხებს არ გვაძლევს; ის უკეთეს კითხვებს გვაძლევს, და ყოველი აღმოჩენის ისტორია აჩვენებს, რამდენ ხანს შეუძლია კარგ კითხვას ლოდინი.',
    ),
    "az": (
        'Yağış səhər tezdən başladı və gecəyə qədər dayanmadı, buna görə uşaqlar evdə qaldılar və pəncərənin yanında kitablarını oxudular, su şüşə ilə axırdı.',
        'Hər şənbə şəhərin ortasındakı köhnə bazar çörək, balıq və tərəvəz almağa gələn insanlarla dolur, satıcılar taxta masaların arxasından qiymətlərini qışqırırlar.',
        'Elm bizə son cavablar vermir; o bizə daha yaxşı suallar verir, və hər kəşfin tarixi göstərir ki, yaxşı sual nə qədər gözləyə bilər.',
    ),
    "kk": (
        'Жаңбыр таңертең ерте басталып, кеш батқанша тоқтамады, сондықтан балалар үйде қалып, терезенің жанында кітаптарын оқыды, ал су әйнекпен ағып жатты.',
        'Әр сенбіде қаланың ортасындағы ескі базар нан, балық және көкөніс сатып алуға келген адамдарға толады, ал сатушылар ағаш үстелдердің артынан бағаларын айқайлайды.',
        'Ғылым бізге түпкілікті жауап бермейді; ол бізге жақсырақ сұрақтар береді, және әр жаңалықтың тарихы жақсы сұрақтың қанша уақыт күте алатынын көрсетеді.',
    ),
    "uz": (
        "Yomg'ir erta tongda boshlandi va kechgacha to'xtamadi, shuning uchun bolalar uyda qolib, deraza yonida kitoblarini o'qidilar, suv oyna bo'ylab oqardi.",
        "Har shanba shahar o'rtasidagi eski bozor non, baliq va sabzavot sotib olishga kelgan odamlar bilan to'ladi, sotuvchilar yog'och stollar ortidan narxlarini baqiradilar.",
        "Fan bizga yakuniy javoblar bermaydi; u bizga yaxshiroq savollar beradi, va har bir kashfiyot tarixi yaxshi savol qancha kutishi mumkinligini ko'rsatadi.",
    ),
    "cy": (
        'Dechreuodd y glaw yn gynnar yn y bore ac ni stopiodd tan yn hwyr y nos, felly arhosodd y plant yn y tŷ a darllen eu llyfrau wrth y ffenestr tra roedd y dŵr yn llifo i lawr y gwydr.',
        "Bob dydd Sadwrn mae'r hen farchnad yng nghanol y dref yn llenwi â phobl sy'n dod i brynu bara, pysgod a llysiau, ac mae'r gwerthwyr yn gweiddi eu prisiau y tu ôl i'r byrddau pren.",
        "Nid yw gwyddoniaeth yn rhoi atebion terfynol i ni; mae'n rhoi cwestiynau gwell i ni, ac mae hanes pob darganfyddiad yn dangos pa mor hir y gall cwestiwn da aros.",
    ),
    "eu": (
        'Euria goizean goiz hasi zen eta ez zen gelditu gaua arte, beraz haurrak etxean geratu ziren eta leiho ondoan beren liburuak irakurri zituzten, ura kristaletik behera zihoan bitartean.',
        'Larunbatero hiriaren erdiko merkatu zaharra jendez betetzen da, ogia, arraina eta barazkiak erostera etortzen direnekin, eta saltzaileek beren prezioak oihukatzen dituzte egurrezko mahaien atzetik.',
        'Zientziak ez digu behin betiko erantzunik ematen; galdera hobeak ematen dizkigu, eta aurkikuntza bakoitzaren historiak erakusten du zenbat denbora itxaron dezakeen galdera on batek.',
    ),
}

# ----------------------------------------------------------------------
# Round-4 widening: the 42 languages added in the 60 -> 102 expansion
# (every shipped language needs real prose to be tested on, as the
# reference golden-tests every language it ships, src/lib.rs:386-432).
# Same three themes as the original block (rain/children at home, the
# Saturday market, science and questions), same rule: original prose
# written for this repo, no external text.
# ----------------------------------------------------------------------

REAL_TEXT.update({
    "br": (
        "Ar glav a zo deuet mintin abred ha ne oa ket echu a-raok an "
        "noz, neuze ar vugale a zo chomet en ti ha lennet o levrioù "
        "e-tal ar prenestr gant an dour o redek war ar gwer.",
        "Bep sadorn ar marc'had kozh e kreiz kêr a zo leun a dud a zeu "
        "evit prenañ bara, pesked ha legumaj, ha ar werzherien a gri o "
        "frizioù a-dreñv an taolioù koad.",
        "Ar skiant ne ro ket respontoù diwezhañ deomp; reiñ a ra "
        "goulennoù gwelloc'h, ha istor pep kavadenn a ziskouez pegeit "
        "e c'hell ur goulenn mat gortoz an den a gemer anezhañ da vat.",
    ),
    "ceb": (
        "Ang ulan misugod sayo sa buntag ug wala mohunong hangtod sa "
        "gabii, busa ang mga bata nagpabilin sa balay ug nagbasa sa "
        "ilang mga libro tapad sa bintana samtang ang tubig midagayday "
        "sa bildo.",
        "Matag sabado ang daan nga merkado sa tunga sa siyudad mapuno "
        "sa mga tawo nga moanhi aron mopalit og pan, isda ug utanon, "
        "ug ang mga namaligya mosinggit sa ilang presyo luyo sa mga "
        "lamesa nga kahoy.",
        "Ang siyensya wala maghatag kanato og katapusang tubag; "
        "naghatag kini og mas maayong pangutana, ug ang kasaysayan sa "
        "matag kaplag nagpakita kung unsa ka dugay ang usa ka maayong "
        "pangutana makahulat sa tawo nga moseryoso niini.",
    ),
    "fo": (
        "Regnið byrjaði tíðliga um morgunin og steðgaði ikki fyrr enn "
        "seint um kvøldið, so børnini vóru heima í húsinum og lósu "
        "bøkur sínar við vindeygað, meðan vatnið rann niður eftir "
        "glasinum.",
        "Hvønn leygardag fyllist gamli marknaðurin í miðjuni av "
        "býnum við fólki, sum koma at keypa breyð, fisk og grønmeti, "
        "og seljararnir rópa prísir sínar aftan fyri trøborðini.",
        "Vísindi geva okkum ikki endalig svar; tey geva okkum betri "
        "spurningar, og søgan um hvørja uppdaging vísir, hvussu leingi "
        "ein góður spurningur kann bíða eftir tí fólki, sum tekur hann "
        "í álvara.",
    ),
    "fy": (
        "De rein begûn betiid yn de moarn en hold net op oant let op "
        "de jûn, dêrom bleaune de bern yn it hûs en liezen har boeken "
        "by it finster wylst it wetter oer it glês rûn.",
        "Elke sneon rint de âlde merk yn it midden fan de stêd fol "
        "mei minsken dy't brea, fisk en griente keapje wolle, en de "
        "keaplju roppe har prizen efter de houten tafels wei.",
        "De wittenskip jout ús gjin lêste antwurden; sy jout ús "
        "bettere fragen, en de skiednis fan elke ûntdekking lit sjen "
        "hoe lang in goede fraach wachtsje kin op de minske dy't him "
        "serieus nimt.",
    ),
    "ga": (
        "Thosaigh an bháisteach go luath ar maidin agus níor stop sí "
        "go dtí an oíche, mar sin d'fhan na páistí sa teach agus léigh "
        "siad a gcuid leabhar ag an bhfuinneog fad a bhí an t-uisce ag "
        "rith síos an ghloine.",
        "Gach satharn líonann an seanmhargadh i lár na cathrach le "
        "daoine a thagann chun arán, iasc agus glasraí a cheannach, "
        "agus glaonn na díoltóirí a gcuid praghsanna taobh thiar de na "
        "boird adhmaid.",
        "Ní thugann an eolaíocht freagraí deiridh dúinn; tugann sí "
        "ceisteanna níos fearr dúinn, agus taispeánann stair gach "
        "fionnachtana cé chomh fada is féidir le ceist mhaith fanacht "
        "leis an duine a ghlacann dáiríre í.",
    ),
    "gd": (
        "Thòisich an t-uisge tràth sa mhadainn agus cha do sguir e gus "
        "an oidhche, mar sin dh'fhan a' chlann anns an taigh agus "
        "leugh iad na leabhraichean aca aig an uinneig fhad 's a bha "
        "an t-uisge a' ruith sìos a' ghlainne.",
        "A h-uile disathairne bidh an seann mhargadh ann am meadhan "
        "a' bhaile a' lìonadh le daoine a thig a cheannach aran, iasg "
        "agus glasraich, agus bidh an luchd-reic ag èigheach am "
        "prìsean air cùl nam bòrd fiodha.",
        "Chan eil saidheans a' toirt dhuinn freagairtean deireannach; "
        "tha e a' toirt dhuinn ceistean nas fheàrr, agus tha eachdraidh "
        "gach lorg a' sealltainn dè cho fada 's as urrainn do dheagh "
        "cheist feitheamh ris an duine a ghabhas i gu dùrachdach.",
    ),
    "ha": (
        "Ruwan sama ya fara da safiya kuma bai tsaya ba sai dare, "
        "saboda haka yara suka zauna a gida suna karanta littattafansu "
        "kusa da taga yayin da ruwa yake gangarowa a kan gilashin.",
        "Kowace asabar tsohuwar kasuwa da ke tsakiyar birni takan "
        "cika da mutane da suka zo sayen burodi, kifi da kayan lambu, "
        "kuma masu sayarwa suna kiran farashinsu a bayan teburin "
        "katako.",
        "Kimiyya ba ta ba mu amsoshi na ƙarshe ba; tana ba mu "
        "tambayoyi mafi kyau, kuma tarihin kowane bincike yana nuna "
        "tsawon lokacin da tambaya mai kyau za ta iya jiran mutumin da "
        "zai ɗauke ta da muhimmanci.",
    ),
    "ht": (
        "Lapli a te kòmanse bonè nan maten epi li pa t sispann jouk "
        "aswè, kidonk timoun yo te rete nan kay la ap li liv yo bò "
        "fenèt la pandan dlo a t ap koule sou vit la.",
        "Chak samdi ansyen mache a nan mitan vil la plen ak moun ki "
        "vini achte pen, pwason ak legim, epi machann yo ap rele pri "
        "yo dèyè tab bwa yo.",
        "Syans pa ban nou repons final; li ban nou pi bon kesyon, epi "
        "istwa chak dekouvèt montre konbyen tan yon bon kesyon ka "
        "tann moun ki pran li oserye a.",
    ),
    "ig": (
        "Mmiri ozuzo bidoro n'isi ụtụtụ ma ọ kwụsịghị ruo abalị, ya "
        "mere ụmụaka nọdụrụ n'ụlọ na-agụ akwụkwọ ha n'akụkụ window ka "
        "mmiri na-asọda n'elu enyo ahụ.",
        "Kwa satọde ahịa ochie dị n'etiti obodo na-ejupụta na ndị "
        "mmadụ na-abịa ịzụta achịcha, azụ na akwụkwọ nri, ndị na-ere "
        "ahịa na-akpọku ọnụ ahịa ha n'azụ oche osisi.",
        "Sayensị anaghị enye anyị azịza ikpeazụ; ọ na-enye anyị ajụjụ "
        "ka mma, akụkọ banyere nchọpụta ọ bụla na-egosi ogologo oge "
        "ajụjụ ọma nwere ike ichere onye ga-ewere ya dị ka ihe dị "
        "mkpa.",
    ),
    "jv": (
        "Udan wiwit esuk banget lan ora mandheg nganti bengi, mula "
        "bocah-bocah tetep ana ing omah lan maca buku-bukune ing "
        "cedhak jendela nalika banyu mili ing kaca.",
        "Saben setu pasar lawas ing tengah kutha kebak wong sing teka "
        "tuku roti, iwak lan sayuran, lan para bakul mbengok regane "
        "ing mburi meja kayu.",
        "Ilmu ora menehi kita wangsulan pungkasan; menehi kita "
        "pitakonan sing luwih apik, lan sajarah saben panemuan "
        "nuduhake suwene pitakonan apik bisa ngenteni wong sing "
        "nganggep serius.",
    ),
    "ku": (
        "Baran sibê zû dest pê kir û heta êvarê ranewestiya, ji ber "
        "vê yekê zarok li xanî man û pirtûkên xwe li ber pencerê "
        "xwendin dema ku av li ser camê diherikî.",
        "Her şemî bazara kevn a li navenda bajêr bi mirovan tije "
        "dibe ku tên nan, masî û sebze bikirin, û firoşkar li pişt "
        "maseyên darîn bihayên xwe bang dikin.",
        "Zanist bersivên dawî nade me; pirsên çêtir dide me, û dîroka "
        "her vedîtinê nîşan dide ku pirseke baş çiqas dikare li "
        "benda mirovê ku wê cidî digire bimîne.",
    ),
    "lb": (
        "De Reen huet moies fréi ugefaangen an net opgehalen bis "
        "spéit owes, dofir sinn d'Kanner am Haus bliwwen an hunn hir "
        "Bicher bei der Fënster gelies, während d'Waasser iwwer "
        "d'Glas gelaf ass.",
        "All samschdeg fëllt sech den ale maart an der Mëtt vun der "
        "Stad mat Leit, déi Brout, Fësch a Geméis kafe wëllen, an "
        "d'Verkeefer ruffen hir Präisser hannert den Holzdëscher.",
        "D'Wëssenschaft gëtt eis keng lescht Äntwerten; si gëtt eis "
        "besser Froen, an d'Geschicht vun all Entdeckung weist, wéi "
        "laang eng gutt Fro op de Mënsch waarde kann, deen se "
        "eescht hëlt.",
    ),
    "mg": (
        "Nanomboka vao maraina ny orana ary tsy nijanona raha tsy "
        "tamin'ny alina, ka nijanona tao an-trano ny ankizy ary "
        "namaky ny bokiny teo akaikin'ny varavarankely raha nikoriana "
        "tamin'ny fitaratra ny rano.",
        "Isaky ny sabotsy ny tsena taloha eo afovoan'ny tanàna dia "
        "feno olona tonga hividy mofo, trondro ary anana, ary ny "
        "mpivarotra miantso ny vidiny ao ambadiky ny latabatra hazo.",
        "Ny siansa tsy manome antsika valiny farany; manome antsika "
        "fanontaniana tsara kokoa izy, ary ny tantaran'ny zava-bita "
        "rehetra dia mampiseho hoe hafiriana no ahafahan'ny "
        "fanontaniana tsara miandry ny olona mandray azy am-po.",
    ),
    "mt": (
        "Ix-xita bdiet kmieni filgħodu u ma waqfitx qabel tard "
        "filgħaxija, għalhekk it-tfal baqgħu fid-dar u qraw il-kotba "
        "tagħhom ħdejn it-tieqa waqt li l-ilma kien nieżel mal-ħġieġa.",
        "Kull nhar ta' sibt is-suq il-qadim f'nofs il-belt jimtela "
        "bin-nies li jiġu jixtru l-ħobż, il-ħut u l-ħaxix, u "
        "l-bejjiegħa jgħajtu l-prezzijiet tagħhom wara l-imwejjed "
        "tal-injam.",
        "Ix-xjenza ma tagħtiniex tweġibiet finali; tagħtina "
        "mistoqsijiet aħjar, u l-istorja ta' kull skoperta turi "
        "kemm mistoqsija tajba tista' tistenna lill-bniedem li "
        "jeħodha bis-serjetà.",
    ),
    "oc": (
        "La pluèja comencèt d'ora lo matin e s'arrestèt pas abans la "
        "nuèch, alara los enfants demorèron dins l'ostal e legiguèron "
        "lors libres prèp de la fenèstra mentre que l'aiga rajava "
        "sul veire.",
        "Cada dissabte lo vièlh mercat al mitan de la vila s'emplena "
        "de gents que venon crompar de pan, de peis e de legums, e "
        "los vendeires cridan lors prèses darrièr las taulas de "
        "fusta.",
        "La sciéncia nos dona pas de responsas finalas; nos dona de "
        "questions melhoras, e l'istòria de cada descobèrta mòstra "
        "quant de temps una bona question pòt esperar la persona que "
        "la pren seriosament.",
    ),
    "rw": (
        "Imvura yatangiye kare mu gitondo ntihagarara kugeza nijoro, "
        "bityo abana baguma mu nzu basoma ibitabo byabo iruhande "
        "rw'idirishya mu gihe amazi yamanukaga ku kirahuri.",
        "Buri wa gatandatu isoko rya kera riri hagati y'umujyi "
        "ryuzura abantu baza kugura umugati, amafi n'imboga, kandi "
        "abacuruzi bahamagara ibiciro byabo inyuma y'ameza y'ibiti.",
        "Siyansi ntidufasha kubona ibisubizo bya nyuma; iduha ibibazo "
        "byiza kurushaho, kandi amateka ya buri kintu cyavumbuwe "
        "yerekana igihe ikibazo cyiza gishobora gutegereza umuntu "
        "ugifata uko bikwiye.",
    ),
    "sn": (
        "Mvura yakatanga mangwanani-ngwanani uye haina kumira kusvika "
        "usiku, saka vana vakagara mumba vachiverenga mabhuku avo "
        "padyo nehwindo apo mvura yaiyerera pagirazi.",
        "Musi wega wega wemugovera musika wekare uri pakati peguta "
        "unozara nevanhu vanouya kuzotenga chingwa, hove nemiriwo, "
        "uye vatengesi vanodaidzira mitengo yavo kuseri kwematafura "
        "emapuranga.",
        "Sainzi haitipe mhinduro dzekupedzisira; inotipa mibvunzo "
        "iri nani, uye nhoroondo yechinhu chimwe nechimwe "
        "chakawanikwa inoratidza kuti mubvunzo wakanaka unogona "
        "kumirira nguva yakareba sei munhu anoutora zvakakomba.",
    ),
    "so": (
        "Roobku wuxuu bilaabmay subaxdii hore mana uusan joogsan ilaa "
        "habeenkii, sidaa darteed carruurtu waxay joogeen gurigii "
        "iyagoo akhrinaya buugaagtooda daaqadda agteeda inta biyuhu "
        "ka soo dareerayeen muraayadda.",
        "Sabti kasta suuqa duqa ah ee bartamaha magaalada wuxuu ka "
        "buuxsamaa dad u yimaada inay iibsadaan rooti, kalluun iyo "
        "khudaar, iyadoo kuwa wax iibiya ay qiimahooda ka dhawaaqaan "
        "miisaska alwaaxda gadaashooda.",
        "Sayniska nama siiyo jawaabo kama dambays ah; wuxuu na siiyaa "
        "weydiimo ka wanaagsan, taariikhda daahfur kastana waxay "
        "muujisaa inta ay weydiin fiican sugi karto qofka si dhab ah "
        "u qaata.",
    ),
    "su": (
        "Hujan mimiti isuk-isuk pisan jeung henteu eureun nepi ka "
        "peuting, ku kituna barudak tetep aya di imah maca buku-bukuna "
        "deukeut jandela nalika cai ngalir dina kaca.",
        "Unggal saptu pasar kolot di tengah kota pinuh ku jalma anu "
        "datang rek meuli roti, lauk jeung sayuran, jeung para "
        "padagang ngagorowok hargana di tukangeun meja kai.",
        "Elmu henteu mere urang jawaban panungtungan; mere urang "
        "patarosan anu leuwih alus, jeung sajarah unggal panemuan "
        "nembongkeun sabaraha lila patarosan alus bisa ngadagoan "
        "jalma anu nganggap serius.",
    ),
    "tk": (
        "Ýagyş ir ertir başlady we giçlik agşama çenli durmady, şonuň "
        "üçin çagalar öýde galyp, suw aýnanyň ýüzünden akyp durka, "
        "penjiräniň ýanynda kitaplaryny okadylar.",
        "Her şenbe güni şäheriň ortasyndaky köne bazar çörek, balyk "
        "we gök önüm satyn almaga gelýän adamlardan dolýar, satyjylar "
        "bolsa agaç stollaryň arkasynda bahalaryny gygyrýarlar.",
        "Ylym bize iň soňky jogaplary bermeýär; ol bize has gowy "
        "soraglary berýär, we her açyşyň taryhy gowy soragyň ony "
        "çynlakaý kabul edýän adama näçe wagt garaşyp biljekdigini "
        "görkezýär.",
    ),
    "xh": (
        "Imvula yaqala kusasa kakhulu kwaye ayizange iyeke de "
        "kwahlwa, ngoko ke abantwana bahlala endlwini befunda "
        "iincwadi zabo ecaleni kwefestile ngelixa amanzi ehla "
        "kwiglasi.",
        "Ngomgqibelo ngamnye imarike endala ephakathi kwesixeko "
        "izaliswa ngabantu abeza kuthenga isonka, intlanzi kunye "
        "nemifuno, kwaye abathengisi bamemeza amaxabiso abo emva "
        "kweetafile zomthi.",
        "Inzululwazi ayisiniki iimpendulo zokugqibela; isinika "
        "imibuzo engcono, kwaye imbali yento nganye efunyenweyo "
        "ibonisa ukuba umbuzo olungileyo unokulinda ixesha elingakanani "
        "umntu owuthabatha nzulu.",
    ),
    "yo": (
        "Òjò bẹ̀rẹ̀ ní kùtùkùtù àárọ̀ kò sì dúró títí di alẹ́, nítorí "
        "náà àwọn ọmọdé dúró sí ilé wọ́n sì ka àwọn ìwé wọn lẹ́gbẹ̀ẹ́ "
        "fèrèsé nígbà tí omi ń sàn lórí dígí.",
        "Ní gbogbo ọjọ́ sátidé ọjà àtijọ́ tí ó wà ní àárín ìlú máa ń "
        "kún fún àwọn ènìyàn tí wọ́n wá ra búrẹ́dì, ẹja àti ẹ̀fọ́, "
        "àwọn oníṣòwò sì ń pe iye owó wọn lẹ́yìn àwọn tábìlì igi.",
        "Ìmọ̀ sáyẹ́nsì kò fún wa ní ìdáhùn ìkẹyìn; ó ń fún wa ní "
        "ìbéèrè tí ó dára jù, ìtàn gbogbo ohun tí a ṣàwárí sì ń fi "
        "hàn bí ìbéèrè rere ṣe lè dúró pẹ́ tó fún ẹni tí yóò gbé e "
        "yẹ̀ wò dáadáa.",
    ),
    "zu": (
        "Imvula yaqala ekuseni kakhulu futhi ayizange ime kuze kube "
        "sebusuku, ngakho izingane zahlala endlini zifunda izincwadi "
        "zazo eduze kwefasitela ngesikhathi amanzi egeleza "
        "engilazini.",
        "Ngamasonto onke ngomgqibelo imakethe endala ephakathi "
        "nedolobha igcwala abantu abeza ukuzothenga isinkwa, izinhlanzi "
        "nemifino, futhi abathengisi bamemeza amanani abo ngemuva "
        "kwamatafula okhuni.",
        "Isayensi ayisiniki izimpendulo zokugcina; isinika imibuzo "
        "engcono, futhi umlando wakho konke okutholakele ubonisa "
        "ukuthi umbuzo omuhle ungalinda isikhathi esingakanani umuntu "
        "owuthatha ngokujulile.",
    ),
})

REAL_TEXT.update({
    "ky": (
        "Жамгыр эртең менен эрте башталып, түнгө чейин токтогон жок, "
        "ошондуктан балдар үйдө калып, суу айнектен агып жатканда "
        "терезенин жанында китептерин окушту.",
        "Ар бир ишемби күнү шаардын ортосундагы эски базар нан, "
        "балык жана жашылча сатып алууга келген адамдарга толот, ал "
        "эми сатуучулар жыгач столдордун артында бааларын кыйкырып "
        "жатышат.",
        "Илим бизге акыркы жоопторду бербейт; ал бизге жакшыраак "
        "суроолорду берет, жана ар бир ачылыштын тарыхы жакшы суроо "
        "аны олуттуу кабыл алган адамды канча убакыт күтө аларын "
        "көрсөтөт.",
    ),
    "mn": (
        "Бороо өглөө эрт эхэлж, шөнө болтол зогссонгүй, тиймээс "
        "хүүхдүүд гэртээ үлдэж, ус шилэн дээгүүр урсах үед цонхны "
        "дэргэд номоо уншиж байсан юм.",
        "Бямба гариг бүр хотын төв дэх хуучин зах талх, загас, "
        "ногоо худалдаж авахаар ирсэн хүмүүсээр дүүрдэг ба худалдагчид "
        "модон ширээний ард үнээ хашгирдаг.",
        "Шинжлэх ухаан бидэнд эцсийн хариулт өгдөггүй; энэ нь бидэнд "
        "илүү сайн асуулт өгдөг бөгөөд нээлт бүрийн түүх сайн асуулт "
        "түүнийг нухацтай авч үздэг хүнийг хэр удаан хүлээж чадахыг "
        "харуулдаг.",
    ),
    "tg": (
        "Борон саҳари барвақт сар шуд ва то шаб наистод, бинобар ин "
        "кӯдакон дар хона монданд ва дар назди тиреза китобҳои худро "
        "мехонданд, дар ҳоле ки об аз шиша ҷорӣ мешуд.",
        "Ҳар рӯзи шанбе бозори кӯҳна дар маркази шаҳр аз одамоне пур "
        "мешавад, ки барои харидани нон, моҳӣ ва сабзавот меоянд, ва "
        "фурӯшандагон дар паси мизҳои чӯбин нархҳои худро фарёд "
        "мезананд.",
        "Илм ба мо ҷавобҳои охирин намедиҳад; он ба мо саволҳои "
        "беҳтар медиҳад, ва таърихи ҳар кашфиёт нишон медиҳад, ки "
        "саволи хуб чӣ қадар метавонад одамеро интизор шавад, ки "
        "онро ҷиддӣ мегирад.",
    ),
    "tt": (
        "Яңгыр иртән иртүк башланды һәм төнгә кадәр туктамады, шуңа "
        "күрә балалар өйдә калдылар һәм су пыяладан агып торганда "
        "тәрәзә янында китапларын укыдылар.",
        "Һәр шимбә көнне шәһәр уртасындагы иске базар ипи, балык һәм "
        "яшелчә сатып алырга килгән кешеләр белән тула, ә сатучылар "
        "агач өстәлләр артында бәяләрен кычкыралар.",
        "Фән безгә соңгы җавапларны бирми; ул безгә яхшырак сораулар "
        "бирә, һәм һәр ачышның тарихы яхшы сорауның аны җитди кабул "
        "иткән кешене күпме көтә алуын күрсәтә.",
    ),
    "ug": (
        "يامغۇر ئەتىگەندە بالدۇر باشلىنىپ كېچىگىچە توختىمىدى، شۇڭا "
        "بالىلار ئۆيدە قېلىپ، سۇ ئەينەكتىن ئېقىۋاتقاندا دېرىزە "
        "يېنىدا كىتابلىرىنى ئوقۇدى.",
        "ھەر شەنبە كۈنى شەھەر ئوتتۇرىسىدىكى كونا بازار نان، بېلىق ۋە "
        "كۆكتات سېتىۋالغىلى كەلگەن كىشىلەر بىلەن تولىدۇ، ساتقۇچىلار "
        "ياغاچ ئۈستەللەرنىڭ ئارقىسىدا باھالىرىنى توۋلايدۇ.",
        "پەن بىزگە ئاخىرقى جاۋابلارنى بەرمەيدۇ؛ ئۇ بىزگە تېخىمۇ "
        "ياخشى سوئاللارنى بېرىدۇ، ھەر بىر بايقاشنىڭ تارىخى ياخشى "
        "سوئالنىڭ ئۇنى ئەستايىدىل قوبۇل قىلىدىغان كىشىنى قانچىلىك "
        "ۋاقىت كۈتەلەيدىغانلىقىنى كۆرسىتىدۇ.",
    ),
    "ps": (
        "باران سهار وختي پیل شو او تر شپې پورې ودرېد نه، نو ماشومان "
        "په کور کې پاتې شول او د کړکۍ ترڅنګ یې خپل کتابونه لوستل "
        "کله چې اوبه پر ښيښه بهېدلې.",
        "هره شنبه د ښار په منځ کې زوړ بازار له هغو خلکو ډکېږي چې د "
        "ډوډۍ، کب او سبزیو اخیستلو لپاره راځي، او پلورونکي د لرګینو "
        "مېزونو شاته خپل بیې نارې وهي.",
        "ساينس موږ ته وروستي ځوابونه نه راکوي؛ هغه موږ ته ښه پوښتنې "
        "راکوي، او د هرې موندنې تاريخ ښيي چې يوه ښه پوښتنه څومره "
        "وخت کولی شي هغه چا ته انتظار وکړي چې هغه جدي نيسي.",
    ),
    "mr": (
        "पाऊस सकाळी लवकर सुरू झाला आणि रात्रीपर्यंत थांबला नाही, "
        "म्हणून मुले घरात राहिली आणि पाणी काचेवरून वाहत असताना "
        "खिडकीजवळ आपली पुस्तके वाचत होती.",
        "दर शनिवारी शहराच्या मध्यभागी असलेला जुना बाजार भाकरी, मासे "
        "आणि भाजी विकत घेण्यासाठी येणाऱ्या लोकांनी भरतो, आणि विक्रेते "
        "लाकडी टेबलांमागून आपल्या किंमती ओरडून सांगतात.",
        "विज्ञान आपल्याला अंतिम उत्तरे देत नाही; ते आपल्याला अधिक "
        "चांगले प्रश्न देते, आणि प्रत्येक शोधाचा इतिहास दाखवतो की "
        "चांगला प्रश्न त्याला गंभीरपणे घेणाऱ्या माणसाची किती काळ वाट "
        "पाहू शकतो.",
    ),
    "ne": (
        "पानी बिहान सबेरै पर्न थाल्यो र रातसम्म रोकिएन, त्यसैले "
        "बालबालिका घरमा बसे र पानी सिसाबाट बगिरहेको बेला झ्यालनजिक "
        "आफ्ना किताबहरू पढे।",
        "हरेक शनिबार शहरको बीचमा रहेको पुरानो बजार रोटी, माछा र "
        "तरकारी किन्न आउने मानिसहरूले भरिन्छ, र बेच्नेहरू काठका "
        "टेबुलपछाडि आफ्ना मूल्यहरू कराउँछन्।",
        "विज्ञानले हामीलाई अन्तिम उत्तरहरू दिँदैन; यसले हामीलाई अझ "
        "राम्रा प्रश्नहरू दिन्छ, र हरेक खोजको इतिहासले देखाउँछ कि "
        "राम्रो प्रश्नले त्यसलाई गम्भीर रूपमा लिने मानिसलाई कति समय "
        "पर्खन सक्छ।",
    ),
    "or": (
        "ବର୍ଷା ସକାଳୁ ସକାଳୁ ଆରମ୍ଭ ହେଲା ଏବଂ ରାତି ପର୍ଯ୍ୟନ୍ତ ବନ୍ଦ ହେଲା "
        "ନାହିଁ, ତେଣୁ ପିଲାମାନେ ଘରେ ରହିଲେ ଏବଂ ପାଣି କାଚ ଉପରେ ବହୁଥିବା "
        "ବେଳେ ଝରକା ପାଖରେ ସେମାନଙ୍କ ବହି ପଢ଼ିଲେ।",
        "ପ୍ରତି ଶନିବାର ସହରର ମଝିରେ ଥିବା ପୁରୁଣା ବଜାର ରୁଟି, ମାଛ ଏବଂ "
        "ପନିପରିବା କିଣିବାକୁ ଆସୁଥିବା ଲୋକଙ୍କରେ ଭରିଯାଏ, ଏବଂ ବିକ୍ରେତାମାନେ "
        "କାଠ ଟେବୁଲ ପଛରେ ସେମାନଙ୍କ ଦାମ ଡାକନ୍ତି।",
        "ବିଜ୍ଞାନ ଆମକୁ ଶେଷ ଉତ୍ତର ଦିଏ ନାହିଁ; ଏହା ଆମକୁ ଭଲ ପ୍ରଶ୍ନ ଦିଏ, "
        "ଏବଂ ପ୍ରତ୍ୟେକ ଆବିଷ୍କାରର ଇତିହାସ ଦେଖାଏ ଯେ ଏକ ଭଲ ପ୍ରଶ୍ନ ତାକୁ "
        "ଗମ୍ଭୀରତାର ସହ ନେଉଥିବା ଲୋକକୁ କେତେ ସମୟ ଅପେକ୍ଷା କରିପାରେ।",
    ),
    "gu": (
        "વરસાદ સવારે વહેલો શરૂ થયો અને રાત સુધી બંધ ન થયો, તેથી "
        "બાળકો ઘરમાં રહ્યા અને પાણી કાચ પરથી વહેતું હતું ત્યારે "
        "બારી પાસે પોતાનાં પુસ્તકો વાંચતાં રહ્યાં.",
        "દર શનિવારે શહેરની વચ્ચે આવેલું જૂનું બજાર રોટલી, માછલી અને "
        "શાકભાજી ખરીદવા આવતા લોકોથી ભરાઈ જાય છે, અને વેચનારા લાકડાના "
        "ટેબલ પાછળથી પોતાના ભાવ બોલાવે છે.",
        "વિજ્ઞાન આપણને અંતિમ જવાબ આપતું નથી; તે આપણને વધુ સારા "
        "પ્રશ્નો આપે છે, અને દરેક શોધનો ઇતિહાસ બતાવે છે કે સારો "
        "પ્રશ્ન તેને ગંભીરતાથી લેનાર માણસની કેટલી રાહ જોઈ શકે છે.",
    ),
    "pa": (
        "ਮੀਂਹ ਸਵੇਰੇ ਜਲਦੀ ਸ਼ੁਰੂ ਹੋਇਆ ਅਤੇ ਰਾਤ ਤੱਕ ਨਹੀਂ ਰੁਕਿਆ, ਇਸ ਲਈ "
        "ਬੱਚੇ ਘਰ ਵਿੱਚ ਰਹੇ ਅਤੇ ਪਾਣੀ ਸ਼ੀਸ਼ੇ ਉੱਤੋਂ ਵਗਦਾ ਸੀ ਤਾਂ ਖਿੜਕੀ "
        "ਕੋਲ ਆਪਣੀਆਂ ਕਿਤਾਬਾਂ ਪੜ੍ਹਦੇ ਰਹੇ।",
        "ਹਰ ਸ਼ਨੀਵਾਰ ਸ਼ਹਿਰ ਦੇ ਵਿਚਕਾਰ ਪੁਰਾਣਾ ਬਾਜ਼ਾਰ ਰੋਟੀ, ਮੱਛੀ ਅਤੇ "
        "ਸਬਜ਼ੀਆਂ ਖਰੀਦਣ ਆਉਣ ਵਾਲੇ ਲੋਕਾਂ ਨਾਲ ਭਰ ਜਾਂਦਾ ਹੈ, ਅਤੇ ਵੇਚਣ "
        "ਵਾਲੇ ਲੱਕੜ ਦੇ ਮੇਜ਼ਾਂ ਪਿੱਛੋਂ ਆਪਣੇ ਭਾਅ ਉੱਚੀ ਬੋਲਦੇ ਹਨ।",
        "ਵਿਗਿਆਨ ਸਾਨੂੰ ਆਖਰੀ ਜਵਾਬ ਨਹੀਂ ਦਿੰਦਾ; ਇਹ ਸਾਨੂੰ ਬਿਹਤਰ ਸਵਾਲ "
        "ਦਿੰਦਾ ਹੈ, ਅਤੇ ਹਰ ਖੋਜ ਦਾ ਇਤਿਹਾਸ ਦਿਖਾਉਂਦਾ ਹੈ ਕਿ ਚੰਗਾ ਸਵਾਲ "
        "ਉਸ ਮਨੁੱਖ ਦੀ ਕਿੰਨੀ ਦੇਰ ਉਡੀਕ ਕਰ ਸਕਦਾ ਹੈ ਜੋ ਉਸਨੂੰ ਗੰਭੀਰਤਾ "
        "ਨਾਲ ਲੈਂਦਾ ਹੈ।",
    ),
    "kn": (
        "ಮಳೆ ಬೆಳಿಗ್ಗೆ ಬೇಗನೆ ಶುರುವಾಯಿತು ಮತ್ತು ರಾತ್ರಿಯವರೆಗೂ ನಿಲ್ಲಲಿಲ್ಲ, "
        "ಆದ್ದರಿಂದ ಮಕ್ಕಳು ಮನೆಯಲ್ಲಿಯೇ ಇದ್ದು ನೀರು ಗಾಜಿನ ಮೇಲೆ ಹರಿಯುತ್ತಿರುವಾಗ "
        "ಕಿಟಕಿಯ ಬಳಿ ತಮ್ಮ ಪುಸ್ತಕಗಳನ್ನು ಓದಿದರು.",
        "ಪ್ರತಿ ಶನಿವಾರ ನಗರದ ನಡುವೆ ಇರುವ ಹಳೆಯ ಮಾರುಕಟ್ಟೆ ರೊಟ್ಟಿ, ಮೀನು "
        "ಮತ್ತು ತರಕಾರಿ ಕೊಳ್ಳಲು ಬರುವ ಜನರಿಂದ ತುಂಬುತ್ತದೆ, ಮತ್ತು ಮಾರುವವರು "
        "ಮರದ ಮೇಜುಗಳ ಹಿಂದಿನಿಂದ ತಮ್ಮ ಬೆಲೆಗಳನ್ನು ಕೂಗುತ್ತಾರೆ.",
        "ವಿಜ್ಞಾನ ನಮಗೆ ಕೊನೆಯ ಉತ್ತರಗಳನ್ನು ಕೊಡುವುದಿಲ್ಲ; ಅದು ನಮಗೆ ಇನ್ನೂ "
        "ಒಳ್ಳೆಯ ಪ್ರಶ್ನೆಗಳನ್ನು ಕೊಡುತ್ತದೆ, ಮತ್ತು ಪ್ರತಿ ಶೋಧದ ಇತಿಹಾಸವು ಒಳ್ಳೆಯ "
        "ಪ್ರಶ್ನೆ ಅದನ್ನು ಗಂಭೀರವಾಗಿ ತೆಗೆದುಕೊಳ್ಳುವ ಮನುಷ್ಯನಿಗಾಗಿ ಎಷ್ಟು ಕಾಲ "
        "ಕಾಯಬಲ್ಲದು ಎಂದು ತೋರಿಸುತ್ತದೆ.",
    ),
    "te": (
        "వాన ఉదయం తొందరగా మొదలైంది మరియు రాత్రి వరకు ఆగలేదు, అందుకే "
        "పిల్లలు ఇంట్లోనే ఉండి నీరు గాజుపై ప్రవహిస్తుండగా కిటికీ దగ్గర "
        "తమ పుస్తకాలు చదివారు.",
        "ప్రతి శనివారం నగరం మధ్యలో ఉన్న పాత మార్కెట్ రొట్టె, చేపలు "
        "మరియు కూరగాయలు కొనడానికి వచ్చే ప్రజలతో నిండిపోతుంది, మరియు "
        "అమ్మేవారు చెక్క బల్లల వెనుక నుండి తమ ధరలను అరుస్తారు.",
        "శాస్త్రం మనకు చివరి జవాబులు ఇవ్వదు; అది మనకు మరింత మంచి "
        "ప్రశ్నలు ఇస్తుంది, మరియు ప్రతి ఆవిష్కరణ చరిత్ర మంచి ప్రశ్న "
        "దానిని సీరియస్‌గా తీసుకునే మనిషి కోసం ఎంతకాలం వేచి ఉండగలదో "
        "చూపిస్తుంది.",
    ),
    "si": (
        "වැස්ස උදේ පාන්දරම පටන් ගත්තා සහ රාත්‍රිය වන තුරු නතර වුණේ "
        "නැහැ, ඒ නිසා දරුවන් ගෙදර නතර වී වතුර වීදුරුව මතින් ගලා යද්දී "
        "ජනේලය ළඟ ඔවුන්ගේ පොත් කියවූහ.",
        "සෑම සෙනසුරාදාම නගරය මැද ඇති පරණ වෙළඳපොළ පාන්, මාළු සහ "
        "එළවළු ගන්න එන මිනිසුන්ගෙන් පිරී යයි, සහ වෙළෙන්දෝ ලී මේස "
        "පිටුපසින් ඔවුන්ගේ මිල කෑගසති.",
        "විද්‍යාව අපට අවසාන පිළිතුරු දෙන්නේ නැත; එය අපට වඩා හොඳ "
        "ප්‍රශ්න දෙයි, සහ සෑම සොයාගැනීමකම ඉතිහාසය පෙන්වන්නේ හොඳ "
        "ප්‍රශ්නයකට එය බැරෑරුම් ලෙස ගන්නා මිනිසා වෙනුවෙන් කොපමණ "
        "කාලයක් බලා සිටිය හැකිද යන්නයි.",
    ),
    "am": (
        "ዝናብ ጠዋት ማልዶ ጀመረ እና እስከ ሌሊት ድረስ አልቆመም፣ ስለዚህ ልጆች ቤት "
        "ውስጥ ቆዩ እና ውሃ በመስታወቱ ላይ ሲወርድ በመስኮቱ አጠገብ መጽሐፎቻቸውን "
        "ያነቡ ነበር።",
        "በየቅዳሜው በከተማው መካከል ያለው አሮጌ ገበያ ዳቦ፣ ዓሣ እና አትክልት ለመግዛት "
        "በሚመጡ ሰዎች ይሞላል፣ ሻጮችም ከእንጨት ጠረጴዛዎች ጀርባ ዋጋቸውን "
        "ይጣራሉ።",
        "ሳይንስ የመጨረሻ መልሶችን አይሰጠንም፤ የተሻሉ ጥያቄዎችን ይሰጠናል፣ እና የእያንዳንዱ "
        "ግኝት ታሪክ ጥሩ ጥያቄ በቁም ነገር የሚወስደውን ሰው ምን ያህል ጊዜ መጠበቅ "
        "እንደሚችል ያሳያል።",
    ),
    "bo": (
        "ཞོགས་པ་སྔ་པོ་ནས་ཆར་པ་བབས་ཏེ་མཚན་མོ་བར་དུ་མ་མཚམས་པས་བྱིས་པ་"
        "ཚོ་ཁང་པ་ནང་དུ་བསྡད་ནས་ཆུ་ཤེལ་སྒོ་ཐོག་ནས་འབབ་སྐབས་སྒེའུ་ཁུང་"
        "འགྲམ་དུ་དཔེ་ཆ་ཀློག་པ་རེད།",
        "གཟའ་སྤེན་པ་རེ་རེར་གྲོང་ཁྱེར་དཀྱིལ་གྱི་ཁྲོམ་རྙིང་པ་དེ་བག་ལེབ་"
        "དང་ཉ་ཚལ་ཉོ་བར་ཡོང་མཁན་མི་ཚོས་གང་ཞིང་ཚོང་པ་ཚོས་ཤིང་གི་ཅོག་"
        "ཙེའི་རྒྱབ་ནས་གོང་ཚད་སྐད་རྒྱག་པ་རེད།",
        "ཚན་རིག་གིས་ང་ཚོར་མཐའ་མཇུག་གི་ལན་མི་སྟེར་བར་དྲི་བ་ལེགས་པ་"
        "སྟེར་ཞིང་གསར་རྙེད་རེ་རེའི་ལོ་རྒྱུས་ཀྱིས་དྲི་བ་བཟང་པོ་ཞིག་གིས་"
        "དེ་གཟབ་ནན་ལེན་མཁན་མི་ལ་ཇི་ཙམ་སྒུག་ཐུབ་པ་སྟོན་པ་རེད།",
    ),
    "km": (
        "ភ្លៀងបានចាប់ផ្តើមពីព្រឹកព្រលឹម ហើយមិនបានឈប់រហូតដល់យប់ "
        "ដូច្នេះកុមារបាននៅផ្ទះ ហើយអានសៀវភៅរបស់ពួកគេនៅក្បែរបង្អួច "
        "ខណៈដែលទឹកហូរលើកញ្ចក់។",
        "រៀងរាល់ថ្ងៃសៅរ៍ ផ្សារចាស់នៅកណ្តាលទីក្រុងពោរពេញទៅដោយមនុស្ស "
        "ដែលមកទិញនំប៉័ង ត្រី និងបន្លែ ហើយអ្នកលក់ស្រែកប្រាប់តម្លៃរបស់ "
        "ពួកគេពីក្រោយតុឈើ។",
        "វិទ្យាសាស្ត្រមិនផ្តល់ឱ្យយើងនូវចម្លើយចុងក្រោយទេ វាផ្តល់ឱ្យយើង "
        "នូវសំណួរល្អជាង ហើយប្រវត្តិសាស្ត្រនៃការរកឃើញនីមួយៗបង្ហាញថា "
        "សំណួរល្អអាចរង់ចាំមនុស្សដែលយកវាធ្ងន់ធ្ងរបានយូរប៉ុណ្ណា។",
    ),
    "lo": (
        "ຝົນເລີ່ມຕົກແຕ່ເຊົ້າມືດ ແລະ ບໍ່ຢຸດຈົນຮອດກາງຄືນ ດັ່ງນັ້ນ "
        "ເດັກນ້ອຍຈຶ່ງຢູ່ເຮືອນ ແລະ ອ່ານປຶ້ມຂອງພວກເຂົາຢູ່ຂ້າງປ່ອງຢ້ຽມ "
        "ໃນຂະນະທີ່ນ້ຳໄຫຼລົງແກ້ວ.",
        "ທຸກໆວັນເສົາ ຕະຫຼາດເກົ່າຢູ່ກາງເມືອງເຕັມໄປດ້ວຍຄົນທີ່ມາຊື້ "
        "ເຂົ້າຈີ່ ປາ ແລະ ຜັກ ແລະ ຜູ້ຂາຍຮ້ອງບອກລາຄາຂອງພວກເຂົາ "
        "ຢູ່ຫຼັງໂຕະໄມ້.",
        "ວິທະຍາສາດບໍ່ໃຫ້ຄຳຕອບສຸດທ້າຍແກ່ພວກເຮົາ ມັນໃຫ້ຄຳຖາມທີ່ດີກວ່າ "
        "ແລະ ປະຫວັດສາດຂອງການຄົ້ນພົບແຕ່ລະອັນສະແດງໃຫ້ເຫັນວ່າ ຄຳຖາມທີ່ດີ "
        "ສາມາດລໍຖ້າຄົນທີ່ເອົາມັນຢ່າງຈິງຈັງໄດ້ດົນປານໃດ.",
    ),
    "my": (
        "မိုးသည်မနက်စောစောကတည်းကစတင်ရွာပြီးညအထိမရပ်ခဲ့သဖြင့် "
        "ကလေးများသည်အိမ်မှာနေကြပြီး ရေသည်မှန်ပေါ်မှစီးဆင်းနေစဉ် "
        "ပြတင်းပေါက်အနီးတွင်သူတို့၏စာအုပ်များကိုဖတ်ကြသည်။",
        "စနေနေ့တိုင်း မြို့လယ်ရှိဈေးဟောင်းသည် မုန့်၊ ငါးနှင့် "
        "ဟင်းသီးဟင်းရွက်ဝယ်ရန်လာသောလူများဖြင့်ပြည့်နေပြီး "
        "ရောင်းသူများသည်သစ်သားစားပွဲများနောက်မှ "
        "စျေးနှုန်းများကိုအော်ဟစ်ကြသည်။",
        "သိပ္ပံသည်ကျွန်တော်တို့အားနောက်ဆုံးအဖြေများမပေးပါ၊ "
        "ပိုကောင်းသောမေးခွန်းများကိုပေးပြီး တွေ့ရှိမှုတစ်ခုစီ၏သမိုင်းက "
        "ကောင်းသောမေးခွန်းတစ်ခုသည် ၎င်းကိုအလေးအနက်ထားသူကို "
        "မည်မျှကြာအောင်စောင့်နိုင်သည်ကိုပြသသည်။",
    ),
})


# ----------------------------------------------------------------------
# short-form stratum (round 5): titles / queries / tweet-length text
# ----------------------------------------------------------------------

import re as _re

_CLAUSE_SPLIT = _re.compile(r"[,;.!?;、，。]+")


def _clauses(p: str) -> list[str]:
    return [c.strip() for c in _CLAUSE_SPLIT.split(p) if c.strip()]


def _accumulate(
    cs: list[str], start: int, min_w: int, cap_w: int, min_c: int, cap_c: int
) -> str:
    """Join clauses from ``start`` until the fragment reaches title
    length: >= min_w words (spaced scripts) or >= min_c chars
    (spaceless), then cap at cap_w words / cap_c chars."""
    buf: list[str] = []
    for c in cs[start:] + cs[:start]:
        buf.append(c)
        j = " ".join(buf)
        if len(j.split()) >= min_w or (" " not in j and len(j) >= min_c):
            break
    j = " ".join(buf)
    w = j.split()
    return " ".join(w[:cap_w]) if len(w) >= min_w else j[:cap_c]


def short_texts() -> dict[str, tuple[str, str, str]]:
    """Three 5-15-word (or 8-24-char spaceless) fragments per language,
    derived DETERMINISTICALLY from the full passages by clause
    extraction — natural-prose fragments in the right language by
    construction (the passages are this repo's own original prose).

    This stratum measures the LENGTH envelope of the classifiers —
    titles, search queries, tweet-length docs, the short-doc mass of a
    real crawl — separately from the full-passage transfer measurement
    (real crawls are full of short docs, and the full-length fixture's
    known misses already concentrated in its shortest passages).
    Graded lengths: ~12-word lead clause, ~12-word mid-passage clause,
    ~8-word 'title' fragment."""
    out = {}
    for lang, ps in REAL_TEXT.items():
        out[lang] = (
            _accumulate(_clauses(ps[0]), 0, 5, 12, 10, 24),
            _accumulate(_clauses(ps[1]), 1, 5, 12, 10, 24),
            _accumulate(_clauses(ps[2]), 0, 5, 8, 8, 16),
        )
    return out


# ----------------------------------------------------------------------
# noisy-encoding stratum (round 6): deterministic corruption variants
# ----------------------------------------------------------------------
# Real crawls deliver text whose ENCODING is damaged even when the
# content is fine: UTF-8 bytes re-read as Latin-1 (mojibake), HTML
# entities that never got decoded, percent-encoded fragments, and
# invisible formatting litter (ZWSP/NBSP) from CMS editors. This
# stratum applies those transforms to this module's own passages and
# pins how the pipeline behaves (tests/test_realtext.py):
#   * zwsp litter must be FULLY absorbed (classifier + quality
#     decisions identical to clean — the r6 normalize_scoring_text fix)
#   * no transform may put a MISCLASSIFIED doc into the kept pool
#     (wrong-language docs must be dropped or unresolved)

NOISY_VARIANTS = ("clean", "mojibake", "entities", "pct", "zwsp")


def _noise_mojibake(t: str) -> str:
    """UTF-8 bytes decoded as Latin-1 — the classic double-encoding."""
    return t.encode("utf-8").decode("latin-1")


def _noise_entities(t: str) -> str:
    """Numeric entities for all non-ASCII + the named basics."""
    named = {"&": "&amp;", "<": "&lt;", ">": "&gt;", '"': "&quot;"}
    return "".join(
        f"&#{ord(c)};" if ord(c) > 127 else named.get(c, c) for c in t
    )


def _noise_pct(t: str) -> str:
    """Percent-encoding with common punctuation left bare."""
    import urllib.parse

    return urllib.parse.quote(t, safe=" .,;:!?-'")


def _noise_zwsp(t: str) -> str:
    """NBSP for every space + a ZWSP every 7 chars."""
    t = t.replace(" ", " ")
    return "​".join(t[i : i + 7] for i in range(0, len(t), 7))


_NOISE_FNS = {
    "clean": lambda t: t,
    "mojibake": _noise_mojibake,
    "entities": _noise_entities,
    "pct": _noise_pct,
    "zwsp": _noise_zwsp,
}


def noisy_texts() -> list[tuple[int, str, str, str]]:
    """(doc_id, lang, variant, text): the 5 variants of each language's
    full-length passage concatenation (~600 chars — above the quality
    floors, so drops measure NOISE, not length). doc_ids from 50_000,
    grouped by language then variant order."""
    out = []
    i = 0
    for lang in sorted(REAL_TEXT):
        base = " ".join(REAL_TEXT[lang])
        for variant in NOISY_VARIANTS:
            out.append((50_000 + i, lang, variant, _NOISE_FNS[variant](base)))
            i += 1
    return out
