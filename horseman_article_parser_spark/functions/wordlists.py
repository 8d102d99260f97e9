"""Embedded static spellcheck wordlists (SURVEY §2.8 N4).

The reference loads real hunspell dictionaries — `dictionary-en-gb` by
default (/root/reference/controllers/spellCheck.js:6) and the detected
language's `dictionary-{iso6391}` with an en fallback
(/root/reference/index.js:1386-1396). Rounds 1-3 approximated this with
corpus-frequency wordlists, which has a fidelity hole VERDICT r3 called
out: a misspelling that is FREQUENT in the corpus ("recieve" in every
document) silently becomes "correct". These lists are STATIC — token
frequency in the data can never promote a word into them.

Round 5 rebuilds the inventory the way hunspell itself does: STEMS +
AFFIX EXPANSION. A hunspell .dic file is ~50k stems whose surface forms
come from .aff rules (plurals, -ed/-ing, -ly, conjugations); these
modules embed curated stem classes (nouns, regular verbs, adjectives,
closed-class/irregular forms) and expand them with the same
morphological rules at import time — ~10k en-GB surface forms, plus
conjugated French (-er/-ir) and Spanish (-ar/-er/-ir) regular verbs
with gender/number inflection (~3k forms each). Expansion is
deterministic and cached; the spellcheck oracle embeds the SAME
expanded list, so parity is by construction at any inventory size.

Honest scope note: rule-driven expansion slightly over-generates
(e.g. a rare stem may accept an unusual but well-formed derivative);
that trades a few false NEGATIVES for eliminating the r4 problem of
over-FLAGGING real prose, and mirrors hunspell's own permissiveness.
The ARCHITECTURE is exactly the reference's: per-language dictionary
relation, broadcast anti-join probe, detected-language routing with en
fallback — `misspellings(docs, dictionary)` accepts any fuller
dictionary table unchanged.

All words lowercase; the probe lowercases tokens before the anti-join.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# ~1k common English words, en-GB conventions (the reference's default
# dictionary is dictionary-en-gb). Includes the engine's synthetic-corpus
# vocabulary where the words are real English; deliberately EXCLUDES
# jargon tokens like 'agg' (not words -> flagged, exactly like hunspell).
EN_GB_WORDS = """
a about above across act action actually add after again against age ago
agree air all almost alone along already also although always am among an
and animal another answer any anyone anything appear apple area argue arm
around arrive art as ask at away baby back bad bag ball bank base basic be
batch bear beat beautiful because become bed been before began begin behaviour
behind being believe below best better between big bird bit black blood
blue board boat body book born both box boy break bring brother brought
build building built bus business busy but buy by call came can cannot car
card care carry case cat catch caught cause central centre certain chair
chance change character charge check child children choice choose city
class clear close cloud cold colour column come common community company
compare complete computer consider contain continue control cook cool
copy corner correct cost could country course court cover create cross cry
cup customer cut dance dark data daughter day dead deal dear decide deep
defence describe design detail develop did die difference different
difficult dinner direction discover distance do doctor does dog done door
down draw dream dress drink drive drop dry during each early earth east
easy eat edge effect egg eight either else end energy enjoy enough enter
equal especially even evening event ever every everyone everything exactly
example except exercise expect experience explain eye face fact fall
family famous far farm fast father favour fear feed feel feet fell felt
few field fight figure fill film filter final find fine finger finish fire first
fish fit five flat floor flower fly follow food foot for force forest
forget form found four free fresh friend from front fruit full fun future
game garden gave general get girl give glass go goes gold gone good got
government great green ground group grow had hair half hand happen happy
hard has hash hat have he head hear heard heart heat heavy held help her here
herself high hill him himself his history hit hold home honour hope horse
hot hour house how however huge human hundred hurt husband idea if
important in include indeed information inside instead interest into is
island it its itself job join jump just keep kept key kind king knew know
known labour land language large last late later laugh law lay lead learn
least leave led left leg less let letter level licence lie life light like
likely line list listen little live local long look lose lost lot loud
love low machine made main make man many map mark market matter may maybe
me mean measure meet member memory men merge message method middle might
mile milk million mind mine minute miss model moment money month moon more
morning most mother mountain mouth move much music must my myself name
narrow nation natural near nearly necessary neck need neighbour never new
news next nice night nine no north nose not note nothing notice now number
object of off offer office often oil old on once one only open or order
organise other our out outside over own page paper paragraph parent part
particular party pass past pattern pay peace people per perhaps person
picture piece place plan plant play please point poor popular position
possible power practise prepare present press pretty price probably
problem process produce product programme promise proud prove provide
public pull push put query question quick quiet quite race radio rain
raise ran rather reach read ready real realise really reason receive
record red remember report require rest result return rich ride right
ring rise river road rock room round row rule run safe said same sat save
saw say scan school science sea season second see seem seen self sell send
sense sent sentence serious serve set seven several shall shape share she
ship short should shoulder show side sign simple since sing single sister
sit six size sky sleep slow small smile snow so social some someone
something sometimes son song soon sort sound south space spark speak special
spend spent spoke sport spring stand star start state station stay step
still stone stop store story straight strange stream street strong
student study subject success such sudden summer sun sure surface
surprise system table take talk tall teach teacher team tell ten term
test than that the theatre their them themselves then there these they
thing think third this those though thought thousand three through throw
time to today together told tomorrow too took top total touch toward town
trade travelled tree trip true try turn two under understand unit until
up upon us use usually value various vector very view village visit
voice wait walk wall want war warm was watch water wave way we wear
weather week well went were west what when where whether which while
white who whole whose why wide wife will win wind window winter wish with
within without woman women wonder word work world would write wrong year
yes yesterday yet you young your yourself
"""

FR_WORDS = """
le la les un une des du de et ou mais donc or ni car ne pas plus moins
est sont suis es sommes etes était étaient été être avoir ai as a avons
avez ont avait avaient eu faire fait fais faisons font faisait je tu il
elle on nous vous ils elles me te se moi toi lui leur mon ma mes ton ta
tes son sa ses notre nos votre vos ce cet cette ces qui que quoi dont où
si oui non avec sans pour par dans sur sous entre vers chez avant après
pendant depuis contre comme aussi alors ainsi donc très bien mal peu
beaucoup trop assez encore déjà toujours jamais souvent parfois
maintenant aujourd hui hier demain ici là bas tout tous toute toutes
rien personne quelque chose autre autres même mêmes grand grande petit
petite bon bonne mauvais mauvaise beau belle jeune vieux vieille nouveau
nouvelle premier première dernier dernière long longue court courte haut
haute bas basse fort forte faible chaud chaude froid froide jour nuit
matin soir semaine mois année an temps heure minute seconde homme femme
enfant fille garçon père mère frère soeur famille ami amie gens monde
pays ville village maison porte fenêtre chambre cuisine jardin rue route
chemin voiture train avion bateau chien chat oiseau poisson cheval arbre
fleur eau feu terre air mer montagne rivière soleil lune étoile ciel
pluie neige vent table chaise lit livre page mot phrase lettre nombre
nom question réponse idée chose travail école classe leçon devoir examen
argent prix magasin pain lait fromage viande fruit légume pomme vin café
thé sucre sel main bras jambe pied tête yeux oeil nez bouche oreille
coeur corps santé médecin aller venir partir arriver entrer sortir
monter descendre rester passer porter prendre donner mettre tenir voir
regarder écouter entendre parler dire demander répondre savoir connaître
penser croire vouloir pouvoir devoir aimer préférer manger boire dormir
vivre mourir naître acheter vendre payer coûter ouvrir fermer commencer
finir continuer attendre chercher trouver perdre gagner jouer chanter
danser courir marcher tomber lever asseoir appeler écrire lire compter
apprendre comprendre oublier aider montrer suivre laisser
""".strip()

ES_WORDS = """
el la los las un una unos unas de del y o pero sino porque que si no sí
es son soy eres somos sois era eran fue fueron ser estar estoy está
están estaba haber he has ha hemos han había hay tener tengo tiene
tienen tenía hacer hago hace hacen hacía yo tú él ella usted nosotros
vosotros ellos ellas me te se nos os le les lo mi mis tu tus su sus
nuestro nuestra vuestro vuestra este esta estos estas ese esa esos esas
aquel aquella quien quienes cual cuales cuando donde como cuanto con sin
para por en sobre bajo entre hacia hasta desde contra según durante
antes después ahora hoy ayer mañana aquí allí cerca lejos muy mucho poco
más menos tan tanto todo toda todos todas nada nadie algo alguien otro
otra bien mal mejor peor grande pequeño pequeña bueno buena malo mala
nuevo nueva viejo vieja joven primero primera último última largo larga
corto corta alto alta bajo baja fuerte débil caliente frío fría día
noche mañana tarde semana mes año tiempo hora minuto segundo hombre
mujer niño niña padre madre hermano hermana familia amigo amiga gente
mundo país ciudad pueblo casa puerta ventana cuarto cocina jardín calle
camino coche tren avión barco perro gato pájaro pez caballo árbol flor
agua fuego tierra aire mar montaña río sol luna estrella cielo lluvia
nieve viento mesa silla cama libro página palabra frase carta número
nombre pregunta respuesta idea cosa trabajo escuela clase lección dinero
precio tienda pan leche queso carne fruta verdura manzana vino café té
azúcar sal mano brazo pierna pie cabeza ojos ojo nariz boca oreja
corazón cuerpo salud médico ir venir salir llegar entrar subir bajar
quedar pasar llevar tomar dar poner tener ver mirar escuchar oír hablar
decir preguntar responder saber conocer pensar creer querer poder deber
amar preferir comer beber dormir vivir morir nacer comprar vender pagar
costar abrir cerrar empezar terminar continuar esperar buscar encontrar
perder ganar jugar cantar bailar correr andar caer levantar sentar
llamar escribir leer contar aprender comprender olvidar ayudar mostrar
seguir dejar
""".strip()

# ---------------------------------------------------------------------------
# Stem classes + affix expansion (round 5) — the hunspell architecture:
# a stem inventory expanded by morphological rules into surface forms.
# Every stem below is REGULAR for its class; irregular words carry
# their forms explicitly in EN_EXTRA_WORDS.
# ---------------------------------------------------------------------------

# Nouns with regular plurals (+s / +es after sibilant / -y -> -ies).
EN_NOUN_STEMS = """
ability absence accent access accident account achievement acre action actor
actress ad addition address adult advantage adventure advert advertisement
advisor affair age agency agent agreement aim airport alarm album alley
ambition amount angle ankle anniversary announcement apartment apology
appeal appearance application appointment approach arch area argument
arrangement arrival arrow aspect assessment assignment assistant
association assumption athlete atmosphere attack attempt attention attitude
audience aunt author authority award baby backgrounds badge balance balcony
band bar barrel barrier basin basket battery battle bay beach bean beard
beast bedroom bee beer beginning being belief bell belt bench benefit berry
bicycle bill bin biography birth birthday biscuit bite blade blanket block
blog blouse
boarder bomb bond bone bonus border bottle bottom boundary bowl brain branch
brand breakfast breath brick bridge brother browser brush bubble bucket
budget builder bulb bullet bundle burden bureau butter button cabin cabinet
cable cake calculation calendar camera camp campaign canal candidate candle
cap capital captain caption carbon career carpet carrot cartoon castle
category cattle ceiling celebration cell cellar century ceremony chain
challenge champion championship chancellor channel chapter charity chart
cheek cheese chest chicken chief chimney chin chocolate church cigarette
cinema circle circuit citizen claim classroom click client cliff climate
clinic clock cloth clue cluster coach coast coat code coffee coin collar
colleague collection college combination comedy comment commission
committee communication competition competitor complaint component
concentration concept concern concert conclusion condition conference
confidence conflict connection consequence constraint consumer contact
container contest context contract contribution convention conversation
cooker copyright cord corridor cottage cotton council counter county couple
courage cousin crack craft cream creation creature credit crew cricket
crime criminal crisis crop crowd crown cube culture cupboard curtain curve
cushion cycle dad damage database deadline debate debt decade decision deck
declaration decoration decrease defeat defender definition degree delay
delivery demand democracy demonstration density dentist department
departure deposit depth description desert desk destination destruction
detail detective device diagram dialogue diamond diary dictionary diet
digit dimension dioxide direction director dirt disaster discipline
discount discovery discussion disease dish disk display distribution
district division document documentary dollar dolphin domain donation dose
dot doubt dozen draft drain drama drawer drawing driver drug drum duck
duration duty eagle ear economy edition editor education election element
elephant emergency emotion emphasis empire employee employer employment
encounter engagement engine enquiry entrance entry envelope environment
episode equation era error escape essay estate estimate evidence
examination exception exchange excuse exercise exhibition existence exit
expansion expedition experiment expert explanation explosion export
expression extension extent extract fabric facility factor factory failure
fan fare farmer fashion fault feather feature fee fence festival fever
fibre fiction film finance finding finger firm fisherman fixture flag
flame flash flavour flight flood flour fluid foundation fox fraction frame
framework freedom fridge fringe frog fuel function fund funeral fur
furniture gain gallery gallon gap garage gas gate gathering gear gene
generation gentleman gesture giant gift goal goat grade grain gram grant
graph grass guarantee guard guest guide guitar gun gym habit hall handle
harbour hat headline headquarters heading height helicopter hen herb
highway hint hip historian hobby hole holiday homework honey hook horizon
horn hospital host hotel household hunter hut ice icon illustration image
impact import importance impression improvement incident income increase
index indication individual industry infection influence ingredient
initiative injury inch insect inspection inspector installation instance
instant institute institution instruction instrument insurance intention
interaction interval interview introduction invasion investigation
investment invitation iron item jacket jail jam jar jet jewel joke journal
journalist journey judge judgement juice jungle keyboard kid kilometre
kingdom kit kitchen kite knee knight label laboratory ladder lake lamp
landing landlord landscape lane laptop launch lawn layer layout leader
leadership league lecture lemon lesson liberty library lid lifestyle lift
limit link lion lip liquid litre load loan lobby location lock log loop
lorry loss lunch lung magazine magnet mail majority manager manner
mansion manual manufacturer margin market marriage master mate material
mayor meal meaning meat mechanism medal meeting melody membership
merchant metal method metre midnight mineral minister minority minute
miracle mirror missile mission mistake mixture mobile mode monitor monkey
monster monument mood motion motor motorway mountain movement movie mud
mug murder muscle museum mushroom musician mystery nail nation needle
neighbourhood nephew nerve nest network newspaper niece noise notebook
notion novel nurse nut oak object observation occasion occupation ocean
offence officer official onion operation operator opinion opponent
opportunity option orange orchestra organ organisation origin outcome
outfit outline output oven owner ox oxygen pack package packet pad painter
painting pair palace pan panel paragraph parcel parent park parliament
parser participant partner passage passenger passion passport password
paste path patient pattern pause payment pen penalty pencil pension pepper
percentage performance period permission personality perspective pet petrol
phase phenomenon philosophy phone photograph photographer phrase
pig pile pilot pin pipe pitch pity pixel plane planet plate platform
player pleasure plenty plot pocket poem poet pollution pond pool
population port portion portrait position possession possibility post
poster pot pound powder practice prayer precision prediction
preference presence present presentation president pressure priest
princess principle printer priority prison prisoner privilege prize
procedure profession professor profile profit program project projection
promotion proof property proportion proposal prospect protection protein
protest province pub publication pupil purchase purpose purse pyramid
quality quantity quarter queen query quote rabbit radar rail railway range
rank rate ratio reaction reader reality rear receipt reception recipe
recommendation rectangle reduction reference reflection reform refugee
region register regulation relation relationship release relief religion
remainder remark removal rent repair replacement reply representation
representative republic reputation request requirement rescue research
researcher reservation resident resolution resort resource respect
response responsibility restaurant restriction retailer return revenue
review revolution reward rhythm ribbon rice rival robot rocket role roof
root rope rose route routine rubber rug ruin ruler rumour sack saint salad
salary sale salt sample sand sandwich satellite sauce sausage scale scandal
scene schedule scheme scholar scholarship scientist score screen script
sculpture seal search seat second secret secretary section sector seed
segment selection seller seminar senator sensation sequence series servant
server service session settlement shade shadow shaft shame sheet shirt
shock shoe shop shortage shot shoulder shower signal signature
significance sin singer sink site situation sketch skill skirt slice slide
slogan slope smartphone smoke snake soap soccer society sock soil soldier
solicitor solution sort soul soup source speaker specialist spectrum
speech speed spirit sponsor spoon spot spray spread spy square squirrel
stadium staff stage stair stake stamp standard statement statue status
steam steel stem stick stock stockholder stomach storm stove strategy
strength strip stroke forecast shareholder
structure studio style subject submission substance suburb suggestion suit
summary summit supermarket supplier supply supporter surgeon surgery
survey suspect sweater swimmer switch symbol sympathy symptom syndrome
tablet tactic tail talent tank tap target task taste tax taxi teaspoon
technique technology telephone telescope television temperature tempo
tenant tendency tension tent territory theme theory therapist therapy
thread threat throat thumb thunder ticket tide tiger tile timber tin tip
tissue toe toilet ton tone tongue tool tooth topic tour tourist
towel tower toy track tractor tradition trail trailer trainer transaction
transfer transformation transition translation treatment treaty trend
trial triangle tribe trick trousers truck trunk tube tunnel turkey tutor
tyre umbrella uncle uniform union universe university update upgrade user
vacation valley van variable variation variety vegetable vehicle venture
venue verdict verse version vessel victim victory video villa violation
violin virus vision visitor vitamin volume volunteer vote voter wage
waist waiter wallet war ward wardrobe warehouse warning waste weakness
weapon website wedding weekend weight welfare whale wheel whisper widow
width wing winner wire witness wood worker workshop wound wrist writer
yard youth zone
animal apple arm article bag ball banana bath batch bed bird biscuit
board boat body box boy building bus business car card carrot case cat
chair chance character choice city class cloud column community company
computer corner country course court cup customer daughter day deal dog
door dream edge effect egg event example eye face fact family father
field figure floor flower food forest friend future game garden girl
glass group hail hair heart hill home horse hour house human husband
idea island job key king language law leg length letter level licence
line machine map member memory message mile minute model moment month
moon morning mother mouth neck night nose number office page paper part
party picture piece power price problem product river road room school
science sea ship side sister size sky son song space sport star station
step stone story stream street strength student surface system table
teacher team term thing thought town tree trip unit value village voice
wall way week window winter word world year
content context logic text title subtitle headline paragraph sidebar footer header menu banner widget
accommodation accountant accusation acquisition activist activity actuality
adaptation addiction adjustment administration administrator admission
adoption agony agriculture alcohol allegation allocation allowance
alteration alternative altitude amendment ammunition amusement ancestor
anchor anecdote animation anticipation anxiety apparatus applicant
appreciation apprentice approval aquarium architecture archive arena
aristocrat arithmetic arrangement artefact artery artillery aspiration
assault assembly assertion asset assistance astronomer asylum athletics
attachment attendance attraction auction audit auditor autobiography
automation autonomy avalanche aviation bacterium badger bakery ballet
ballot bankruptcy banquet baptism barometer barrister basement
battlefield battleship bay beverage biology blacksmith blessing
blueprint bodyguard boiler bookshop boredom botany bouquet boxer
breakdown breakthrough brewery bribery brigade broadcaster brochure
bulletin burglar burglary bypass calculator calf camel campaigner
campus cancellation capability capitalism cardigan cargo carnival
carpenter cartridge cassette casualty cathedral celebrity cemetery
certificate certainty chairperson chandelier chaplain characteristic
charm charter chauffeur checklist chemistry chess childhood chorus
christening chronicle circulation circumstance civilisation classification
clause clerk cockpit coincidence collaboration collector collision
colony columnist combat comedian commander commentary commentator
commerce commodity commonwealth commuter companion comparison compassion
compensation competence complexity complication composer composition
compound compromise conception concession concession condemnation
condominium conductor confession configuration confirmation confrontation
congregation conjunction conquest conscience consciousness conservation
conservative consideration consignment consistency consonant conspiracy
constable constellation constitution consultant consultation consumption
contemplation contention continent contractor contradiction contrary
convenience convent convention convict conviction copper correlation
correspondence correspondent corridor corruption costume counsellor
countdown courtyard creativity creator credibility creek cricketer
criterion critic criticism crocodile crossword crucifix crusade
cucumber curiosity curriculum custody custom cyclist cylinder
""".split()

# Regular verbs: +s (3sg), +ed, +ing with e-drop / y->i / CVC doubling
# for single-vowel-group stems / en-GB final-l doubling. Multi-syllable
# final-stress CVC verbs (admit, refer, occur, ...) are NOT here —
# their forms live in EN_EXTRA_WORDS.
EN_VERB_STEMS = """
absorb accept access accompany accuse ache achieve acquire act adapt add
address adjust admire adopt advance advise affect afford aid aim alert
align allow amend amount analyse announce annoy answer anticipate
apologise appeal appear applaud apply appoint appreciate approach approve
argue arise arrange arrest arrive ask assemble assert assess assign
assist associate assume assure attach attack attempt attend attract
authorise avoid await awake back bake balance ban bang bank base bat
bathe battle beg behave belong bend bet blame blast blend bless blink
block bloom blur boast boil bolt book boost borrow bounce bow brake
branch breathe breed brew bridge broadcast brush bubble bump burn burst
bury buzz calculate calm camp cancel capture care carry carve cash cast
categorise cause cease celebrate centre chain challenge change charge
chase chat cheat check cheer chew chip chop circle cite claim clap
clarify classify clean clear click climb cling clip close coach collapse
collect combine comfort command comment communicate commute compare
compete compile complain complete compose compute conclude conduct
confess configure confirm confront confuse connect consent conserve
consider consist console constitute construct consult consume contact
contain continue contract contrast contribute convert convince cook cool
cooperate coordinate cope copy correct cough count cover crack crash
crawl create criticise cross crush cultivate cure curl dance dare
dash date debate decay decide declare decline decorate decrease dedicate
defeat defend define delay delete delight deliver demand demonstrate
deny depart depend deploy describe deserve design desire destroy detect
determine develop devote dial differ diminish dine dip direct disagree
disappear discount discourage discover discuss dislike dismiss dispose
distribute disturb dive divide document dodge dominate donate double
doubt download drag drain dream dress drift drill drip drop drown dry
dump earn ease echo edit educate elect eliminate email embrace emerge
emphasise employ enable enclose encourage end endorse endure enforce
engage enhance enjoy enquire enrol ensure enter entertain escape
establish estimate evaluate evolve examine exceed exchange exclaim
exclude excuse execute exercise exhaust exist expand expect experience
experiment explain explode explore export expose express extend fade
fail fancy farm fasten favour fax fear feature fetch file fill
finish fish fix flash float flood flow fold follow force form found
frame frown fry fulfil gain gather gaze generate glance glow govern
grab grade graduate grant grasp greet grill grin grip guarantee guard
guess guide hail halt hand handle happen harm harvest hate haunt head
heal heat help hesitate hike hire honour hook hop hope host hug hunt
hurry identify ignore illustrate imagine imitate implement imply import
impose impress improve include increase indicate influence inform
inhabit inherit initiate inject injure insert insist inspect inspire
install insult insure integrate intend interact interfere interpret
interrupt interview introduce invade invent invest investigate invite
involve isolate issue itch join joke judge jump justify kick kill kiss
knock label lack land last laugh launch lean leap learn lease lecture
lick lift like limit link list listen live load loan locate lock long
look love lower maintain manage manipulate march mark market marry
match measure melt mention merge migrate mind minimise miss mix moan
modify monitor motivate mount mourn move multiply murder name narrate
rally slump tumble soar rebound underperform disappoint spook anger alarm
navigate need neglect negotiate nod nominate note notice notify object
observe obtain occupy offer open operate oppose order organise
outline overlook owe own pack paint park participate pass
paste pat pause peel perform persist persuade phone pick pile pin
pitch place plan plant play plead please pledge plot plug point polish
poll pollute pop pose possess post postpone pour practise praise pray
preach predict prefer prepare present preserve press pretend prevail
prevent print proceed process proclaim produce progress promise promote
prompt pronounce propose protect protest prove provide provoke publish
pull pump punch punish purchase pursue push qualify question queue quote
race rain raise rank rate reach react realise receive recognise
recommend record recover recruit reduce refine reflect refresh refuse
regard register regulate reinforce reject relate relax release relieve remember
rely remain remark remind remove render renew repair repeat replace
reply report represent request require research reserve reside resign
resist resolve respect respond restore restrict result resume retain
retire retreat return reveal reverse review revise reward risk roam
roar roast rock roll rotate row rub ruin rule rush sail sample save
scan scare scatter scold score scratch scream screen seal search
season seek seem select sentence serve settle shape share shave shift
ship
shout shrug sigh sign signal simplify sip ski skip slam slip slow
smell smile smooth sneeze sniff snow soak solve sort sound spare spark
specify spell spill spoil sponsor spray sprint squeeze stack stain
stare start starve state stay steer stir stitch stop store storm
strain stress stretch stroll struggle study stuff stumble
subscribe succeed suck suffer suggest suit supply support suppose
surge surprise surrender surround survey survive suspect sustain
swallow sway switch tackle tag talk tap taste tease tempt tend terrify
test thank threaten thrill tick tidy tie tighten time tip toast
tolerate toss touch tour trace track trade train transfer transform
translate transport trap travel treat tremble trick trigger trim trust
tune turn twist type undergo underline undermine unite unlock unveil
update upgrade upload urge use utilise vanish vary verify view visit
wait walk wander want warm warn wash watch water wave weigh welcome
whisper whistle widen wink wipe wish wonder work worry wrap wreck yawn
yell yield zoom
abandon abolish accelerate acknowledge activate actualise administer
advertise advocate allocate alter amuse animate annotate appal
articulate ascend aspire assassinate assimilate astonish audit
automate avert bargain beckon behold betray bewilder boycott
brainstorm broaden calibrate campaign captivate caress characterise
cherish chuckle circulate clutch coincide collaborate collide
colonise commemorate commence commercialise compensate complement
complicate compress comprise compromise conceal concede conceive
concentrate condemn condense conspire contemplate contradict converge
convey correlate correspond corrupt counsel counteract crave
cripple critique crumble crunch cuddle customise dazzle
decelerate decompose dampen darken deepen deafen
democratise depict deprive descend designate deteriorate devastate
deviate devise diagnose dictate differentiate digest digitise
discard discharge disclose disconnect discriminate disguise disgust
disintegrate dismantle dispatch dispense disperse displace disregard
disrupt dissolve distil distinguish distort distract distress
diversify divert duplicate dwindle elaborate elevate embark 
embody  empower enact encompass endanger energise engrave enlarge
enlighten enlist enrich entail entice entitle envisage erect erode
escalate evacuate evaporate evoke exaggerate excavate excel exert
exhibit expire exploit extinguish fabricate facilitate falsify
familiarise fascinate flatten flourish fluctuate forge formalise
formulate fracture fragment frighten frustrate galvanise gamble
generalise glorify gravitate grumble harmonise harden hasten
headline hinder hoist humiliate hypothesise idealise illuminate
immerse immunise impair implicate incline incorporate incur infect
 inflate inflict infuse inhale inhibit innovate inscribe
intensify intercept interrogate intervene intimidate intrigue
inundate invoke irrigate irritate jeopardise juggle kindle lament
legislate legitimise lengthen liberate lighten linger liquidate
localise magnify manufacture marginalise materialise maximise mediate
meditate mentor  mobilise moderate modernise moisten mould
mumble mutter mystify narrow nationalise naturalise neutralise
normalise nurture obscure obsess optimise orbit orchestrate oust
outpace outperform outrage outweigh overcome overhaul
overshadow overturn overwhelm oxidise paralyse paraphrase pamper
patrol penetrate perceive perfect personalise personify petition
pinpoint pioneer plummet plunge polarise ponder popularise
postulate precede prescribe presume privatise probe proclaim
professionalise prohibit proliferate prolong propel prosecute
prosper publicise quantify quicken radiate ransack ratify rationalise
reassure rebuild recite reckon reconcile reconstruct recount
rectify  redeem redefine rediscover refurbish regenerate
rehearse reign reiterate rejoice rejuvenate relocate reminisce
renovate replicate reproduce resemble reshape reside resonate
restrain resurrect retrieve reunite revamp revitalise revive
revolutionise ridicule ripen sadden scrutinise sharpen shorten
shrivel signify simmer situate smuggle soften solidify soothe
specialise speculate stabilise standardise steepen stiffen stifle
stimulate stipulate straighten strengthen stumble subsidise
substitute summarise supplement suppress symbolise synthesise
systematise tabulate tame tarnish testify theorise thicken thrive
tighten toughen trademark tranquillise transcend transcribe
trivialise uncover undermine unfold unify unravel uphold utter
validate vacate venture vibrate victimise visualise vocalise widen
wither worsen
""".split()

# Adjectives: base + regular -ly adverb (-y -> -ily, -le -> -ly,
# -ic -> -ically, -ll -> +y).
EN_ADJ_LY_STEMS = """
absolute accurate active actual additional adequate aggressive amazing
angry annual anxious apparent appropriate approximate automatic awful
awkward bare basic beautiful bitter bold brave brief bright brilliant
broad busy calm careful careless casual cautious certain cheap cheerful
chemical civil classical clever clinical cold colourful comfortable
commercial complete confident consistent constant continuous convenient
correct courageous critical cruel cultural curious current dangerous
dear deep definite deliberate delicate delightful dense desperate
digital diplomatic direct distinct doubtful dramatic dreadful eager
early easy economic educational effective efficient electronic elegant
emotional endless enormous entire environmental equal essential eternal
ethical eventual evident exact excessive exclusive explicit express
extraordinary extreme faint fair faithful familiar fatal fierce final
financial firm fluent fond formal fortunate frank free frequent fresh
friendly full fundamental generous gentle genuine glad global gradual
grand grateful grave great happy hard harsh heavy helpful historical
honest hopeful horrible hot hungry ideal identical immediate immense
implicit impressive inevitable informal initial innocent instant
intellectual intense intimate jealous joint keen kind late lazy legal
light likely literal lively local logical lonely loose loud loyal lucky
mad magnetic main marginal massive mathematical mature mechanical medical
mental mere mild miserable moral mutual mysterious narrow nasty natural
neat necessary nervous nice noble normal obvious occasional odd official
open optimistic ordinary original painful partial particular passionate
passive patient perfect permanent personal physical plain pleasant
polite political poor popular positive potential practical precise
previous primary private probable productive professional prominent
prompt proper proud psychological pure quick quiet radical rapid rare
rational raw ready real reasonable recent regular relative reluctant
remarkable remote repeated respective rigid romantic rough round royal
rude sad safe secure selfish sensible serious severe sharp shy silent
similar simple sincere slight slow smooth social soft sole solid
special specific spiritual splendid steady strange strict structural
stubborn subsequent substantial subtle successful sudden sufficient
suitable superb superficial sure surprising sweet swift sympathetic
technical temporary tender terrible thick thin thorough tight total
tragic tremendous typical ultimate unfair unique universal unlikely
unusual urgent usual vague verbal vertical vigorous violent virtual
visual vital vivid voluntary warm weak wild wise wonderful wrong
abundant academic acceptable accessible accountable adaptable
adorable adventurous advisable affectionate affordable alarming
ambiguous ambitious amusing analytical ancient applicable
appreciative arbitrary arrogant artificial astonishing athletic
attentive attractive audible authentic available believable
beneficial biological blissful breathtaking capable catastrophic
ceremonial charismatic charitable childish chronic coherent
cohesive collaborative collective colonial colossal compatible
competent competitive comprehensible comprehensive compulsory
conceivable conditional confidential congenial conscientious
conscious consecutive considerable conspicuous contagious
contemporary contentious controversial conventional cooperative
cosmetic cosmopolitan countless courteous creative credible
cumulative customary cynical decent decisive decorative dedicated
defective defensive deficient dependable dependent descriptive
desirable destructive detailed detrimental devastating devoted
diligent disastrous disciplined discreet dismal disposable
disruptive distinctive diverse divine domestic dominant dubious
durable dynamic eccentric ecological economical ecstatic edible
educated elaborate elastic electric eligible eloquent embarrassing
eminent empirical energetic enjoyable enthusiastic envious
equivalent erratic evasive exceptional exhaustive exotic expansive
expensive experimental explosive expressive exquisite extensive
external extravagant fabulous fashionable favourable feasible
federal fictional flawless flexible fragile frantic frivolous
functional furious futuristic generic genetic glamorous gloomy
gracious grim gross hazardous hereditary hilarious hollow homeless
horizontal hostile humble hygienic hysterical iconic imaginary
imaginative immaculate imminent impeccable imperative impartial
impulsive inadequate incredible indifferent indigenous industrial
infamous infectious influential ingenious inherent inquisitive
insightful significant insufficient intact integral interactive
internal intricate intrinsic invalid invaluable invisible ironic
irrational irresistible joyful judicial juvenile lavish legendary
legible legislative legitimate lethal liberal limp linear literary
lucrative luminous lush luxurious magnificent majestic malicious
mandatory manual marine marvellous meaningful medieval mediocre
melancholy memorable metallic meticulous microscopic mighty
miniature minimal ministerial miraculous mischievous mobile modest
momentous monetary monotonous monumental mortal muddy multiple
mundane municipal muscular mystical naive nostalgic notable
notorious nuclear numerical numerous nutritious obedient objective
obligatory obscure observant obsolete operational optical optional
organic ornamental orthodox outrageous outstanding overwhelming
parallel paramount particular pastoral paternal pathetic peculiar
perceptive periodic peripheral perpetual persistent persuasive
pessimistic phenomenal picturesque pivotal plausible playful
poetic poisonous portable powerless precious predictable pregnant
prehistoric preliminary prestigious presidential presumable
prevalent proactive problematic prolific prosperous provincial
provocative prudent punctual quaint questionable realistic
rebellious receptive reciprocal reckless refreshing regional
relentless relevant reliable remarkable renowned repetitive
residential resilient resourceful respectable responsive
restless revolutionary rhetorical ridiculous rigorous robust
rural ruthless sacred satisfactory scarce sceptical scenic
scientific seasonal secondary secular selective sensational
sentimental shallow sincere skilful sleek sluggish solar solemn
sophisticated spacious spectacular spontaneous sporadic stale
statistical stern strategic strenuous stunning sturdy stylish
substantive suspicious sustainable symbolic synthetic systematic
tangible tedious temporal tentative terrestrial thoughtful
thrilling timeless timid tolerant toxic traditional tranquil
transparent tremendous tribal tropical turbulent unanimous
unbearable unbelievable uncertain undeniable uneven unprecedented
unpredictable vibrant vicious vigilant vulnerable wary weary
whimsical wholesome worthwhile worthy zealous
""".split()

# Short gradable adjectives: +er / +est (e-drop, -y -> -i, CVC doubling).
EN_GRADABLE_STEMS = """
big bold brave bright broad busy calm cheap clean clever close cold cool
dark dear deep dirty dry early easy faint fair fast fat fierce fine firm
fit flat fresh full funny gentle grand great green happy hard harsh heavy
high hot hungry kind large late lazy light long loose loud low lucky mad
mild narrow near neat new nice noisy odd old pale plain poor proud quick
quiet rare rich ripe rough round sad safe sharp shy sick simple slim slow
small smart smooth soft steep sticky strange strict strong sweet tall
thick thin tidy tight tiny tough warm weak wealthy wet wide wild wise
young
""".split()

# Irregular forms, closed-class words, technical/common vocabulary, and
# explicit derivatives whose stems are not regular for any class above.
EN_EXTRA_WORDS = """
ample analysis analyses basis bases crises axis axes thesis theses
hypothesis hypotheses criterion criteria phenomena media medium data
datum children men women people persons feet teeth mice geese lives
knives wives leaves halves shelves wolves loaves thieves selves scarves
admit admits admitted admitting refer refers referred referring occur
occurs occurred occurring commit commits committed committing permit
permits permitted permitting regret regrets regretted regretting prefer
preferred preferring transmit transmits transmitted transmitting equip
equips equipped equipping forbid forbids forbade forbidden forbidding
begin begins began begun beginning forget forgets forgot forgotten
forgetting upset upsets upsetting
submit submits submitted submitting embed embeds embedded embedding
emit emits emitted emitting recur recurs recurred recurring infer
infers inferred inferring mimic mimics mimicked mimicking
quarterly fiscal retail tech earnings
overlap overlaps overlapped overlapping control controls controlled
controlling kidnap kidnaps kidnapped kidnapping worship worships
worshipped worshipping handicap handicapped program programs programmed
programming
am are is was were been being do does doing did done has had having go
goes going went gone make makes making made take takes taking taken
come comes coming get gets getting give gives giving given know knows
knowing knew see sees seeing saw say says saying think thinks thinking
tell tells telling find finds finding leave leaves leaving become
becomes becoming came felt kept left meant met paid sent spent stood
taught told understood won wore wrote written driven eaten fallen
flown given grown hidden held hung kept knew known laid lain lay led
lent lit lost meant met mistaken paid read rang ridden risen rose run
rung sang sat sought sold shaken shone shook shot shown shut slept
slid sold spoke spoken spread sprang stole stolen stuck stung swam
swept swore sworn swung threw thrown understood woke woken wound
bought brought caught fought sought thought bound found ground
keep keeps keeping sleep sleeps sleeping sweep sweeps sweeping
feel feels feeling bleed bleeds bleeding feed feeds feeding
lend lends lending send sends sending spend spends spending
build builds bled bred fed
sing sings singing swim swims swimming ring rings ringing
drink drinks drinking drank drunk sink sinks sinking sank sunk
shrink shrinks shrinking shrank shrunk stink stinks stinking
spring springs springing
wear wears wearing tear tears tearing tore torn bear bears bearing
bore borne swear swears swearing
buy buys buying fight fights fighting teach teaches teaching
catch catches catching
ride rides riding rise rises rising write writes writing drive drives
driving strike strikes striking struck arisen arose
fly flies flying flew lie lies lying die dies dying died dyed
dye dyes dyeing oversee oversees overseeing oversaw overseen
sit sits sitting set sets setting cut cuts cutting put puts putting
hit hits hitting let lets letting shut shuts shutting split splits
splitting quit quits quitting spit spits spitting bid bids bidding
run runs running swimmer
hold holds holding stand stands standing
lose loses losing choose chooses choosing chose chosen freeze freezes
freezing froze frozen
speak speaks speaking steal steals stealing break breaks breaking
broke broken wake wakes waking
throw throws throwing grow grows growing blow blows blowing blew
draw draws drawn drew
hang hangs hanging hide hides hiding shake shakes shaking shine
shines shining shoot shoots shooting show shows showing
sell sells selling seek seeks seeking
also although always among amongst anybody anymore anyone anything
anywhere because before behind below beneath beside besides between
beyond cannot despite during either everybody everyone everything
everywhere however indeed inside instead into itself maybe meanwhile
moreover neither nobody none nonetheless nothing nowhere often onto
otherwise ourselves outside perhaps quite rather really regarding
since somebody somehow someone something sometime sometimes somewhat
somewhere therefore though throughout thus together toward towards
unless unlike until upon whatever whenever whereas wherever whether
within without yourself yourselves themselves
abroad ago ahead alike alive alone aloud apart asleep awake aware away
backward backwards daily downstairs downtown elsewhere forever forward
forwards hardly immediately indoors lately nearby nowadays online
outdoors overnight overseas seldom soon still straight then there
twice upstairs usually weekly well yearly yes yet
across after again against all an and any as at both but by each few
for from he her hers herself him himself his i if in it its me mine my
myself no nor not of off on one or our ours out over own she so some
such than that the their theirs them then these they this those
through to too under up us we what when where which while who whom
whose why will with you your yours
zero one two three four five six seven eight nine ten eleven twelve
thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty
thirty forty fifty sixty seventy eighty ninety hundred thousand million
billion first second third fourth fifth sixth seventh eighth ninth
tenth once twice
january february march april may june july august september october
november december monday tuesday wednesday thursday friday saturday
sunday spring summer autumn winter today tomorrow yesterday tonight
am pm ok okay etc eg ie vs via per cent percent
app apps blog blogs browser browsers click clicks email emails
internet online offline password passwords screenshot screenshots
smartphone smartphones software hardware webpage webpages website
websites wifi download downloads upload uploads username usernames
analytics metadata
can could may might must ought shall should would need dare
about above abstract bulk chaos chat confusion consensus countryside
courtesy crockery cutlery dawn dusk electricity elegance enthusiasm
equipment evidence feedback fun furniture guidance happiness health
homework information infrastructure intelligence jewellery knowledge
laughter leisure luck luggage machinery mathematics money music news
nonsense patience permission physics poetry pollution progress
publicity research rubbish scenery stuff sunshine sympathy traffic
transport weather wealth wildlife wisdom
filler realistic parser copyright chancellor
multiple multiples photo photos piano pianos kilo kilos memo memos solo
solos logo logos radio radios video videos studio studios zoo zoos
hero heroes potato potatoes tomato tomatoes echo echoes cargo cargoes
volcano volcanoes
colour colours colourful behaviour behaviours favour favours favourite
favourites flavour flavours honour honours humour labour labours
neighbour neighbours rumour rumours saviour armour harbour harbours
centre centres metre metres litre litres theatre theatres fibre fibres
calibre spectre sombre
organise organised organising organises realise realised realising
realises recognise recognised recognising recognises apologise
criticise emphasise categorise authorise minimise utilise analyse
analysed analysing analyses specialise specialised specialising
specialises summarise summarised summarising summarises
defence offence licence pretence practise practised practising
practises programme programmes catalogue catalogues dialogue dialogues
travelled travelling traveller travellers cancelled cancelling
labelled labelling levelled levelling modelled modelling signalled
signalling quarrelled quarrelling marvelled marvelling counselled
counselling fuelled fuelling jewelled
grey aluminium aeroplane aeroplanes pyjamas tyre tyres kerb kerbs
cheque cheques plough ploughs mould moulds moustache moustaches
storey storeys whisky draught draughts
""".split()


def _en_plural(stem: str) -> str:
    if stem.endswith(("s", "x", "z", "ch", "sh")):
        return stem + "es"
    if len(stem) > 1 and stem.endswith("y") and stem[-2] not in "aeiou":
        return stem[:-1] + "ies"
    return stem + "s"


_VOWELS = "aeiou"


def _en_doubles_final(stem: str) -> bool:
    """CVC doubling: a SINGLE vowel letter + final single consonant
    (not w/x/y). A vowel digraph before the final consonant never
    doubles (clean -> cleaned, look -> looked, rain -> rained). en-GB
    additionally doubles a final 'l' after one vowel letter regardless
    of stress (travel -> travelled)."""
    if len(stem) < 2 or stem[-1] in _VOWELS + "wxy":
        return False
    if stem[-2] not in _VOWELS:
        return False
    if len(stem) >= 3 and stem[-3] in _VOWELS:
        return False  # vowel digraph (ea/oo/ai/...) — no doubling
    if stem.endswith("l"):
        return True  # en-GB l-doubling
    # otherwise only single-vowel-group (monosyllabic) stems double
    groups = len(re.findall(f"[{_VOWELS}]+", stem))
    return groups == 1


def _en_verb_forms(stem: str) -> list[str]:
    forms = [stem, _en_plural(stem)]  # 3sg shares the plural rule
    if stem.endswith(("ee", "oe", "ye")):
        # agree -> agreed/agreeing: past takes +d, gerund keeps the e
        forms += [stem + "d", stem + "ing"]
    elif stem.endswith("e"):
        forms += [stem + "d", stem[:-1] + "ing"]
    elif len(stem) > 1 and stem.endswith("y") and stem[-2] not in _VOWELS:
        forms += [stem[:-1] + "ied", stem + "ing"]
    elif _en_doubles_final(stem):
        forms += [stem + stem[-1] + "ed", stem + stem[-1] + "ing"]
    else:
        forms += [stem + "ed", stem + "ing"]
    return forms


def _en_adverb(stem: str) -> str:
    if stem.endswith("ic"):
        return stem + "ally"
    if stem.endswith("le") and len(stem) > 2 and stem[-3] not in _VOWELS:
        return stem[:-1] + "y"
    if len(stem) > 1 and stem.endswith("y") and stem[-2] not in _VOWELS:
        return stem[:-1] + "ily"
    if stem.endswith("ll"):
        return stem + "y"
    return stem + "ly"


def _en_gradable_forms(stem: str) -> list[str]:
    if stem.endswith("e"):
        return [stem + "r", stem + "st"]
    if len(stem) > 1 and stem.endswith("y") and stem[-2] not in _VOWELS:
        return [stem[:-1] + "ier", stem[:-1] + "iest"]
    if _en_doubles_final(stem) and not stem.endswith("l"):
        return [stem + stem[-1] + "er", stem + stem[-1] + "est"]
    return [stem + "er", stem + "est"]


# Closed-class words in EN_GB_WORDS that must NOT be run through the
# noun/verb affix rules — their "inflections" (thes, becauseing) are
# never real words, and the open-class rules below would accept them.
EN_CLOSED_CLASS = frozenset("""
a an the and or but if then when while of to in on at by for with from as
is are was were be been being am do does did done have has had having
will would shall should can could may might must not no nor so yet
both either neither each every all any some few many much more most
other another such what which who whom whose where why how this that these those i
you he she it we they me him her us them my your his its our their
mine yours hers ours theirs there here now once again very too also
just only even still about above across after against along among
around before behind below beneath beside between beyond during
except inside into near off over past since through throughout under
until up upon within without out down than because although though
unless whether cannot
""".split())

# Irregular comparatives / compounds the affix rules cannot derive.
EN_IRREGULAR_EXTRA = """
worse worst further furthest farther farthest elder eldest whoever
whomever whichever whatever whenever wherever however moreover
nevertheless nonetheless meanwhile
""".split()

# Concrete everyday nouns (fabrics, woods, colours, foods, times of
# day) absent from the frequency-ordered base list. Besides spellcheck
# coverage these feed the NER locative rule's known-word veto: "dressed
# in khaki" must not mint a Khaki place (operators/entities.py).
EN_CONCRETE_NOUNS = """
khaki denim gingham corduroy tweed velvet linen suede teak cedar
mahogany walnut birch maple pine twilight noon crimson maroon
turquoise beige ivory indigo scarlet amber ochre charcoal granite
marble slate quartz gravel moss fern heather thistle clover sage basil
thyme cinnamon nutmeg saffron paprika vanilla caramel toffee fudge
porridge broth stew casserole chutney relish brine vinegar yeast dough
batter gruel silk wool leather canvas burlap gauze taffeta chiffon
satin brocade
""".split()


def _expand_en() -> set[str]:
    out: set[str] = set(EN_GB_WORDS.split())
    out.update(EN_EXTRA_WORDS)
    out.update(EN_IRREGULAR_EXTRA)
    for w in EN_CONCRETE_NOUNS:
        out.add(w)
        out.add(_en_plural(w))
    # the base list is full of open-class words (try, pay, government)
    # whose inflections real prose uses constantly; run every
    # non-closed-class base word through the same affix rules as the
    # stem lists. Junk forms this generates for the odd adjective are
    # accepted-as-correct only (false negatives, sanctioned by the
    # module scope note) — they can never flag correct prose.
    for w in EN_GB_WORDS.split():
        if w in EN_CLOSED_CLASS or len(w) < 3:
            continue
        out.add(_en_plural(w))
        out.update(_en_verb_forms(w))
    for n in EN_NOUN_STEMS:
        out.add(n)
        out.add(_en_plural(n))
    for v in EN_VERB_STEMS:
        out.update(_en_verb_forms(v))
    for a in EN_ADJ_LY_STEMS:
        out.add(a)
        out.add(_en_adverb(a))
    for g in EN_GRADABLE_STEMS:
        out.add(g)
        out.update(_en_gradable_forms(g))
    return {w for w in out if w.isalpha() and w.isascii()}


# ---- French: regular -er / -ir(finir) conjugation + noun/adj inflection
FR_VERB_ER_STEMS = """
aim parl march regard écout travaill jou pens demand donn trouv port
mont rest pass entr apport présent expliqu rappel gard quitt laiss
cherch aid décid accept refus prépar propos occup organis utilis
développ continu arrêt ajout compt cout habit étudi dessin ferm chant
dans saut lav bross répar achet envol visit invit remerci félicit
excus discut racont termin commenc
""".split()
FR_VERB_IR_STEMS = """
fin chois grand réuss réfléch nourr pun obé roug vieill établ rempl
guér affaibl élarg avert défin invest
""".split()
FR_NOUN_PLUS_S = """
ami amie maison porte table chaise livre page mot lettre nombre nom
question réponse idée chose école classe devoir examen argent prix
magasin pain fruit légume pomme vin café thé sucre sel main bras jambe
pied tête nez bouche oreille corps médecin jour nuit matin soir semaine
mois année temps heure minute seconde homme femme enfant fille garçon
père mère frère famille monde pays ville village rue route chemin
voiture train avion chien chat oiseau poisson arbre fleur montagne
rivière étoile pluie vent lit phrase
""".split()
FR_ADJ_STEMS = """
grand petit fort haut froid chaud lent prochain certain vrai joli
content intéressant important différent excellent charmant méchant
prudent présent absent
""".split()

_FR_ER_ENDINGS = [
    "er", "e", "es", "ons", "ez", "ent", "ais", "ait", "ions", "iez",
    "aient", "erai", "eras", "era", "erons", "erez", "eront", "erais",
    "erait", "erions", "eriez", "eraient", "é", "ée", "és", "ées", "ant",
]
_FR_IR_ENDINGS = [
    "ir", "is", "it", "issons", "issez", "issent", "issais", "issait",
    "issions", "issiez", "issaient", "irai", "iras", "ira", "irons",
    "irez", "iront", "irais", "irait", "irions", "iriez", "iraient",
    "i", "ie", "is", "ies", "issant",
]


# -er stems that alternate before a silent/mute-e ending (present
# singular + 3pl) and throughout the future/conditional: è-grave
# (acheter → achète, achèterai) and l/t-doubling (rappeler →
# rappelle, rappellerai). Forms are generated with the changed stem
# exactly where French orthography uses it; the plain stem keeps the
# infinitive, nous/vous present, imparfait and participles.
FR_ER_STEM_CHANGES = {"achet": "achèt", "rappel": "rappell"}
_FR_ER_CHANGED = tuple(
    e for e in _FR_ER_ENDINGS
    if e in ("e", "es", "ent") or (e.startswith("er") and e != "er")
)


def _fr_er_forms(stem: str) -> list[str]:
    alt = FR_ER_STEM_CHANGES.get(stem)
    out = []
    for e in _FR_ER_ENDINGS:
        base = alt if (alt and e in _FR_ER_CHANGED) else stem
        # -cer verbs soften c→ç before a/o endings (commencer →
        # commençons, commençait)
        if base.endswith("c") and e[0] in "ao":
            base = base[:-1] + "ç"
        out.append(base + e)
    return out


def _expand_fr() -> set[str]:
    out: set[str] = set(FR_WORDS.split())
    for stem in FR_VERB_ER_STEMS:
        out.update(_fr_er_forms(stem))
    for stem in FR_VERB_IR_STEMS:
        out.update(stem + e for e in _FR_IR_ENDINGS)
    for n in FR_NOUN_PLUS_S:
        out.add(n)
        out.add(n + "s" if not n.endswith(("s", "x", "z")) else n)
    for a in FR_ADJ_STEMS:
        out.update((a, a + "e", a + "s", a + "es"))
    return {w for w in out if w.isalpha()}


# ---- Spanish: regular -ar / -er / -ir conjugation + gender/number
ES_VERB_AR_STEMS = """
habl trabaj estudi cant bail camin mir escuch compr pag llev tom dej
pas entr llam busc encontr pens cambi ayud necesit dese esper olvid
prepar organiz utiliz visit invit salud limpi cocin lav gan jug cort
pint dibuj viaj descans contest pregunt explic particip termin
""".split()
ES_VERB_ER_STEMS = """
com beb aprend comprend vend corr romp met deb tem respond
""".split()
ES_VERB_IR_STEMS = """
viv escrib recib decid sub abr part compart permit descubr
""".split()
ES_NOUN_STEMS = """
amigo amiga casa puerta ventana cuarto cocina calle camino coche tren
perro gato pájaro caballo árbol flor montaña río estrella lluvia viento
mesa silla cama libro página palabra frase carta número nombre pregunta
respuesta idea cosa trabajo escuela clase dinero precio tienda pan
leche queso carne fruta verdura manzana vino café azúcar mano brazo
pierna pie cabeza ojo nariz boca oreja corazón cuerpo salud médico día
noche mañana tarde semana mes año tiempo hora minuto segundo hombre
mujer niño niña padre madre hermano hermana familia gente mundo país
ciudad pueblo agua fuego tierra aire mar sol luna cielo nieve
""".split()
ES_ADJ_O_STEMS = """
alto bajo bueno malo nuevo viejo pequeño largo corto frío rico pobre
bonito feo limpio sucio claro oscuro rápido lento caro barato seguro
tranquilo contento cansado enfermo sano serio simpático antiguo moderno
""".split()

_ES_AR_ENDINGS = [
    "ar", "o", "as", "a", "amos", "an", "aba", "abas", "ábamos", "aban",
    "é", "aste", "ó", "aron", "aré", "arás", "ará", "aremos", "arán",
    "aría", "arías", "aríamos", "arían", "ado", "ada", "ados", "adas",
    "ando",
]
_ES_ER_ENDINGS = [
    "er", "o", "es", "e", "emos", "en", "ía", "ías", "íamos", "ían",
    "í", "iste", "ió", "ieron", "eré", "erás", "erá", "eremos", "erán",
    "ería", "erías", "eríamos", "erían", "ido", "ida", "idos", "idas",
    "iendo",
]
_ES_IR_ENDINGS = [
    "ir", "o", "es", "e", "imos", "en", "ía", "ías", "íamos", "ían",
    "í", "iste", "ió", "ieron", "iré", "irás", "irá", "iremos", "irán",
    "iría", "irías", "iríamos", "irían", "ido", "ida", "idos", "idas",
    "iendo",
]


# -ar stems that diphthongize in the stressed (boot) present forms:
# pensar → pienso/piensas/piensa/piensan but pensamos/pensé. The
# changed stem applies only to o/as/a/an; everything else (incl. the
# orthographic preterite below) uses the plain stem.
ES_AR_STEM_CHANGES = {"pens": "piens", "encontr": "encuentr",
                      "jug": "jueg"}
_ES_AR_BOOT = ("o", "as", "a", "an")
# irregular past participles of otherwise-regular -ir stems in the
# list (abrir → abierto, escribir → escrito, descubrir → descubierto)
ES_EXTRA_FORMS = (
    "abierto abierta abiertos abiertas escrito escrita escritos "
    "escritas descubierto descubierta descubiertos descubiertas"
).split()


def _es_ar_forms(stem: str) -> list[str]:
    alt = ES_AR_STEM_CHANGES.get(stem)
    out = []
    for e in _ES_AR_ENDINGS:
        base = alt if (alt and e in _ES_AR_BOOT) else stem
        # preterite 1sg é keeps the stem's sound: buscar → busqué,
        # pagar → pagué, organizar → organicé
        if e == "é":
            if base.endswith("c"):
                base = base[:-1] + "qu"
            elif base.endswith("g"):
                base = base + "u"
            elif base.endswith("z"):
                base = base[:-1] + "c"
        out.append(base + e)
    return out


def _expand_es() -> set[str]:
    out: set[str] = set(ES_WORDS.split())
    out.update(ES_EXTRA_FORMS)
    for stem in ES_VERB_AR_STEMS:
        out.update(_es_ar_forms(stem))
    for stem, ends in (
        *((s, _ES_ER_ENDINGS) for s in ES_VERB_ER_STEMS),
        *((s, _ES_IR_ENDINGS) for s in ES_VERB_IR_STEMS),
    ):
        out.update(stem + e for e in ends)
    for n in ES_NOUN_STEMS:
        out.add(n)
        if n[-1] in "aeiouáéíóú":
            out.add(n + "s")
        elif n.endswith("ón"):
            out.add(n[:-2] + "ones")  # corazón -> corazones
        else:
            out.add(n + "es")
    for a in ES_ADJ_O_STEMS:
        if a.endswith("o"):
            base = a[:-1]
            out.update((base + "o", base + "a", base + "os", base + "as"))
        else:
            out.update((a, a + "s"))
    return {w for w in out if w.isalpha()}


_EXPANDERS = {"en": _expand_en, "fr": _expand_fr, "es": _expand_es}
_EXPANDED_CACHE: dict[str, list[str]] = {}


def wordlist(lang: str) -> list[str]:
    """Sorted unique surface-form list for `lang` ('en' ≙ the
    reference's en-gb default): base list + affix-expanded stems."""
    if lang not in _EXPANDERS:
        raise KeyError(f"no embedded dictionary for {lang!r}")
    if lang not in _EXPANDED_CACHE:
        _EXPANDED_CACHE[lang] = sorted(_EXPANDERS[lang]())
    return _EXPANDED_CACHE[lang]


def builtin_dictionary(spark: SparkSession) -> DataFrame:
    """The English dictionary relation (word), the reference's en-gb
    default — drop-in for `misspellings(docs, dictionary)`; other
    languages go through `builtin_dictionaries`."""
    return spark.createDataFrame([(w,) for w in wordlist("en")], "word string")


def builtin_dictionaries(spark: SparkSession) -> DataFrame:
    """Long (lang, word) relation over en, fr and es for
    `misspellings_multilang` — the relational form of the reference's
    dictionary-{lang} file set."""
    rows = [(lg, w) for lg in ("en", "fr", "es") for w in wordlist(lg)]
    return spark.createDataFrame(rows, "lang string, word string")
